package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.BoundedTopK
import graft.ops.IvfIndex

/** serve_ivf_mixed: reads beside writes on one persisted IVF index, built
  * in set-up over the base corpus's embeddings. The loop runs rounds of
  * [[Serve.Round]]: probe batches of [[Serve.BatchSize]] seeded query
  * vectors through the exact rescore, the PQ path and a label-filtered
  * probe, the hybrid lexical + ANN query, appends of the next vectors
  * of replica 1 of a factor-2 corpus (`inputs`) and index maintenance.
  * A round in progress is finished when the window closes, so every run
  * has the same operation mix. */
final class Serve(ctx: Ctx) extends Workload {
  import Serve._
  private val spark = ctx.spark
  private val rng = new scala.util.Random(ctx.seed)
  private val root = s"${ctx.work}/index"
  private var appended = 0
  private var seq = 0L
  private var round: Iterator[String] = Iterator.empty

  private val queryIds: Seq[Long] = graft.core.Tables.embeddings(spark, ctx.testdata)
    .filter(col("vec_id") % 10 === 0).select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
  private val filteredIds: Set[Long] = graft.core.Tables.embeddings(spark, ctx.testdata)
    .filter(col("vec_id") % 10 === 0 && col("label") === 0).select("vec_id")
    .collect().map(_.getLong(0)).toSet
  private var pending: Iterator[Long] = Iterator.empty

  /** Results of the warm-up probes, per kind, for the oracle checks. */
  private val warmResults = mutable.Map.empty[String, Probe]
  private var rescored = 0L
  private var returned = 0L

  private def nextBatch(pool: Seq[Long]): Seq[Long] = {
    val out = mutable.ArrayBuffer.empty[Long]
    var guard = 0
    while (out.size < math.min(BatchSize, pool.size) && guard < 4 * queryIds.size) {
      if (!pending.hasNext) pending = rng.shuffle(queryIds).iterator
      val id = pending.next()
      if (pool.contains(id) && !out.contains(id)) out += id
      guard += 1
    }
    out.toSeq
  }

  private def queries(ids: Seq[Long]): DataFrame =
    IvfIndex.cells(spark, root).filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("q_id"), col("ne").as("q_ne"))
      .localCheckpoint(true)

  private def top5(cands: DataFrame): DataFrame =
    cands.groupBy(col("q_id"))
      .agg(BoundedTopK.topK(5)(col("cos"), col("vec_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), col("col.id").as("vec_id"),
        (floor(col("col.score") * 1000000) / 1000000.0).as("score"),
        (col("pos") + 1).cast("long").as("rn"))

  /** One probe batch of `kind`. */
  private def probe(kind: String): Probe = kind match {
    case "hybrid" =>
      ctx.span("ops.ivf_probe") {
        val df = ctx.span("queries.plan") {
          val d = graft.SparkEntry.allDefs("t30_hybrid_ann_rrf").build(spark, ctx.testdata)
          d.queryExecution.executedPlan
          d
        }
        Probe(ctx.span("queries.exec")(df.collect()), df.schema, Nil, None)
      }
    case _ =>
      val filtered = kind == "probe_filtered"
      val ids = nextBatch(if (filtered) queryIds.filter(filteredIds) else queryIds)
      ctx.span("ops.ivf_probe") {
        val q = queries(ids)
        val cands = kind match {
          case "probe_exact" => IvfIndex.probeCandidates(spark, root, q)
          case "probe_pq" => IvfIndex.probeCandidatesPq(spark, root, q)
          case "probe_filtered" => IvfIndex.probeCandidates(spark, root, q, candWhere = Some("label = 1"))
        }
        val top = top5(cands)
        Probe(top.collect(), top.schema, ids, if (kind == "probe_pq") None else Some(cands))
      }
  }

  private def append(): Long = {
    val lo = Replica + appended.toLong * AppendSize * 10
    val vecs = spark.read.parquet(s"${ctx.inputs}/embeddings.parquet")
      .filter(col("vec_id") >= lo && col("vec_id") < lo + AppendSize * 10L)
    ctx.span("ops.ivf_append")(IvfIndex.append(spark, root, vecs))
    appended += 1
    AppendSize.toLong
  }

  /** Build the index, then warm up with one round on it: every probe kind
    * on the index as built, whose results are the ones checked against the
    * oracles, then an append and a maintenance pass. */
  def setup(): Unit = {
    IvfIndex.build(spark, ctx.testdata, root)
    Kinds.foreach(kind => warmResults(kind) = probe(kind))
    append()
    IvfIndex.maintain(spark, root)
  }

  override def midRound: Boolean = round.hasNext

  def step(loop: Loop): Unit = {
    if (!round.hasNext) round = Round.iterator
    val kind = round.next()
    ctx.tracer.setOp(seq)
    seq += 1
    kind match {
      case "append" => loop.timed(kind)(append())
      case "maintain" =>
        loop.timed(kind)(ctx.span("ops.ivf_maintain") { IvfIndex.maintain(spark, root); 0L })
      case _ =>
        var p: Option[Probe] = None
        loop.timed(kind) {
          p = Some(probe(kind))
          p.get.rows.map(_.getLong(0)).distinct.length.toLong
        }
        // trace-only count for ops.ivf_probe.rescored_per_result, made
        // after the span and the operation have closed so that no layer
        // and no latency sample carries it
        if (ctx.tracer.enabled) p.foreach(r => r.cands.foreach(c => loop.untimed {
          rescored += c.count()
          returned += r.rows.length
        }))
    }
  }

  def finish(loop: Loop): Outcome = {
    // a probe's oracle rows are those of the query vectors it was asked for
    val oracle = warmResults.toSeq.map { case (kind, p) =>
      val got = s"${ctx.out}/serve_$kind"
      spark.createDataFrame(p.rows.toSeq.asJava, p.schema).write.parquet(got)
      Map("name" -> OracleOf(kind), "got" -> got,
        "subset" -> (if (kind == "hybrid") "" else "q_id"), "asked" -> p.ids.mkString(","))
    }
    // recall@5 of the final index against exact brute force over the
    // vectors it holds now, for every query vector
    val cells = IvfIndex.cells(spark, root).select("vec_id", "ne")
    val q = queries(queryIds)
    val exact = top5(q.crossJoin(cells).filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), call_function("vec_dot", col("q_ne"), col("ne")).as("cos")))
      .select("q_id", "vec_id")
    def recall(cands: DataFrame): Double = {
      val got = top5(cands).select("q_id", "vec_id")
      got.join(exact, Seq("q_id", "vec_id")).count().toDouble / exact.count()
    }
    val exactRecall = recall(IvfIndex.probeCandidates(spark, root, q))
    val pqRecall = recall(IvfIndex.probeCandidatesPq(spark, root, q))
    val checks = Seq(
      Check("recall_at_5_exact_rescore", exactRecall >= RecallFloorExact,
        f"$exactRecall%.4f (floor $RecallFloorExact) after $appended appends"),
      Check("recall_at_5_pq", pqRecall >= RecallFloorPq,
        f"$pqRecall%.4f (floor $RecallFloorPq) after $appended appends"))
    Outcome(checks, oracle, Map(
      "appends" -> appended.toDouble,
      "recall_at_5_exact_rescore" -> exactRecall,
      "recall_at_5_pq" -> pqRecall,
      "ops.ivf_probe.rescored_per_result" -> (if (returned == 0) 0.0 else rescored.toDouble / returned)))
  }
}

object Serve {
  val BatchSize = 32
  val AppendSize = 64
  val Kinds = Seq("probe_exact", "probe_pq", "probe_filtered", "hybrid")
  /** One probe of each kind in turn, an append after every second probe
    * and a maintenance pass after every fourth. */
  val Round: Seq[String] = Seq("probe_exact", "probe_pq", "append", "probe_filtered", "hybrid",
    "append", "maintain")
  val OracleOf = Map("probe_exact" -> "e14_ann_ivf_persisted",
    "probe_pq" -> "e16_ann_ivfpq_persisted", "probe_filtered" -> "e18_ann_ivf_filtered",
    "hybrid" -> "t30_hybrid_ann_rrf")
  /** Replica 1 of a ScaleGen corpus: ids r·10¹² + 10·v + 1. */
  val Replica = 1000000000001L
  val RecallFloorExact = 0.45
  val RecallFloorPq = 0.4

  /** A probe's result, the query vectors it was asked for (none for the
    * hybrid query) and, for the rescoring probes, its candidate rows. */
  final case class Probe(rows: Array[Row], schema: StructType, ids: Seq[Long],
      cands: Option[DataFrame])
}
