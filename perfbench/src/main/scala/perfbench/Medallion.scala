package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.maint.VersionedTable
import graft.ops.{CdcApply, IncrementalAgg, Scd2}
import graft.quality.Quality
import graft.quality.Quality.{Quarantine, Rule}
import graft.sources.Ingest
import graft.streaming.Streams

/** medallion_incremental: the write path. Each operation lands one
  * generated batch (gen.py) and carries it from raw files to committed
  * gold tables and the refreshed materialized view, then compacts the
  * appended tables and vacuums every table. A run measures about one
  * batch, so maintenance runs after every batch rather than every few:
  * otherwise no measured batch would include it. */
final class Medallion(ctx: Ctx) extends Workload {
  import Medallion._
  private val spark = ctx.spark
  private def span[T](name: String)(body: => T): T = ctx.span(name)(body)

  private val batchDirs: Seq[String] = Files.list(Paths.get(ctx.inputs)).iterator().asScala
    .map(_.toString).filter(_.contains("batch_")).toSeq.sorted
  require(batchDirs.size > 2, s"no generated batches under ${ctx.inputs}")
  private val batchFiles: Seq[Seq[Path]] = batchDirs.map(d =>
    Seq("customers.json", "orders.csv", "lineitem.csv", "events.json").map(Paths.get(d, _)))
  /** Raw records per batch (CSV headers excluded) and raw bytes. */
  private val batchRows: Seq[Long] = batchFiles.map(_.map { p =>
    val lines = Files.lines(p)
    try lines.count() - (if (p.toString.endsWith(".csv")) 1 else 0) finally lines.close()
  }.sum)
  private val batchBytes: Seq[Long] = batchFiles.map(_.map(Files.size).sum)

  /** Program state of one build: every table root lives under `root`. */
  private final class State(val root: String) {
    def vt(rel: String) = new VersionedTable(spark, s"$root/$rel")
    val bronze: Map[String, VersionedTable] =
      Seq("customers", "orders", "lineitem", "events").map(n => n -> vt(s"bronze/$n")).toMap
    val quarantine = vt("quarantine")
    val scd2 = vt("silver/customers_scd2")
    val orders = vt("silver/orders")
    val mv = vt("mv/spend_by_customer")
    val gold: Map[String, VersionedTable] = GoldQueries.map(q => q -> vt(s"gold/$q")).toMap
    val stage = s"$root/stage/customers"
    val customers = s"$root/silver/customers"
    val checkpoint = s"$root/checkpoint/customers"
    val events = s"$root/silver/events"
    val goldIn = s"$root/gold_in"
    def tables: Seq[VersionedTable] =
      bronze.values.toSeq ++ Seq(quarantine, scd2, orders, mv) ++ gold.values
    var landedRows = 0L
    var landedBytes = 0L
    var deltaRows = 0L
    var stateRows = 0L
  }

  private var st: State = _
  private var next = 1

  /** The seed batch (batch_000) goes through the same path as every later
    * batch, so it is also the warm-up. */
  def setup(): Unit = {
    st = new State(s"${ctx.work}/state")
    bootstrap(st)
    land(st, batchDirs.head)
  }

  override def hasNext: Boolean = next < batchDirs.size

  def step(loop: Loop): Unit = {
    val b = next
    next += 1
    ctx.tracer.setOp(b)
    if (loop.timed("batch") { land(st, batchDirs(b)); batchRows(b) }) {
      st.landedRows += batchRows(b)
      st.landedBytes += batchBytes(b)
    }
    if (ctx.tracer.enabled) loop.untimed {
      // trace-only counts for ops.incr_agg.delta_per_state_row
      st.deltaRows += st.orders.changeFeed(st.orders.latestVersion.get).count()
      st.stateRows += st.mv.read().count()
    }
  }

  /** Empty silver tables and MV with their schemas, made with the
    * one-shot forms (SCD2 history, CDC state, MV init) over no rows. */
  private def bootstrap(s: State): Unit = {
    Files.createDirectories(Paths.get(s.goldIn))
    Files.createDirectories(Paths.get(s.events))
    def none(schema: StructType) = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    s.scd2.write(Scd2.fromHistory(none(CustomerSchema).select(ScdCols.map(col): _*),
      "c_custkey", "updated_at", "c_mktsegment"), "scd2-create")
    s.orders.writeWithChangeFeed(
      CdcApply.latestState(none(OrderSchema), "o_orderkey", "op", Seq("cdc_seq")),
      Seq("o_orderkey"), "cdc-create")
    s.mv.write(IncrementalAgg.init(s.orders.read(), Seq("o_custkey"), "o_totalprice"), "mv-create")
  }

  /** Land one batch: raw files to bronze, quality gate, silver, MV, gold. */
  private def land(s: State, dir: String): Unit = {
    val (custClean, ordClean) = landBronze(s, dir)
    span("streaming.merge_sink") {
      writeStage(s, custClean)
      Streams.runMergeSink(stream(s), s.customers, Seq("c_custkey"), "updated_at", s.checkpoint)
    }
    val v = span("silver.apply") {
      val cur = span("maint.read")(s.scd2.read())
      val scd = Scd2.applyUpdates(cur, custClean.select(ScdCols.map(col): _*),
        "c_custkey", "updated_at", "c_mktsegment")
      span("maint.commit")(s.scd2.write(scd, "scd2"))
      val orders = span("maint.read")(s.orders.read())
      val latest = CdcApply.latestState(
        orders.unionByName(ordClean.select(OrderCols.map(col): _*)),
        "o_orderkey", "op", Seq("cdc_seq"))
      span("maint.commit")(s.orders.writeWithChangeFeed(latest, Seq("o_orderkey"), "cdc-apply"))
    }
    span("ops.incr_agg") {
      val feed = span("maint.read")(s.orders.changeFeed(v))
      val state = span("maint.read")(s.mv.read())
      span("maint.commit")(s.mv.write(
        IncrementalAgg.applyDelta(state, feed, Seq("o_custkey"), "o_totalprice"), "mv-refresh"))
    }
    rebuildGold(s)
    span("maint.compact") {
      s.bronze.values.foreach(_.compact())
      s.quarantine.compact()
      s.tables.foreach(_.vacuum())
    }
  }

  /** Sources, bronze commits and the quality gate; returns the clean
    * customer and order frames (events go straight on to silver). */
  private def landBronze(s: State, dir: String): (DataFrame, DataFrame) = {
    val cust = span("sources.ingest")(Ingest.json(spark, s"$dir/customers.json", CustomerSchema))
    val ord = span("sources.ingest")(Ingest.csv(spark, s"$dir/orders.csv", OrderSchema))
    val line = span("sources.ingest")(Ingest.csv(spark, s"$dir/lineitem.csv", LineSchema))
    val ev = span("sources.ingest")(Ingest.json(spark, s"$dir/events.json", EventSchema))
    span("maint.commit") {
      s.bronze("customers").appendWithChangeFeed(cust, "land")
      s.bronze("orders").appendWithChangeFeed(ord, "land")
      s.bronze("lineitem").appendWithChangeFeed(line, "land")
      s.bronze("events").appendWithChangeFeed(ev, "land")
    }
    val gates = span("quality.gate") {
      Map("customers" -> Quality.apply(cust, CustomerRules),
        "orders" -> Quality.apply(ord, OrderRules),
        "events" -> Quality.apply(ev, EventRules))
    }
    // one dead-letter table for every source: the rejected record as JSON
    val rejected = gates.toSeq.sortBy(_._1).map { case (n, g) =>
      g.quarantined.select(lit(n).as("source"), col("quarantine_reason"),
        to_json(struct(g.quarantined.columns.filter(_ != "quarantine_reason").map(col): _*))
          .as("record"))
    }.reduce(_ unionByName _)
    span("maint.commit")(s.quarantine.append(rejected, "quarantine"))
    span("silver.apply") {
      gates("events").clean.select(EventSchema.fieldNames.map(col): _*)
        .write.mode("append").parquet(s.events)
    }
    (gates("customers").clean, gates("orders").clean)
  }

  private def writeStage(s: State, clean: DataFrame): Unit =
    clean.select(CustomerSchema.fieldNames.map(col): _*).write.mode("append").parquet(s.stage)

  private def stream(s: State): DataFrame =
    spark.readStream.schema(CustomerSchema).parquet(s.stage)

  /** The gold tables read the silver heads through `gold_in`, the
    * directory layout the query definitions expect. */
  private def rebuildGold(s: State): Unit = span("queries.gold") {
    relink(s, "customer", Paths.get(s.customers,
      Files.readString(Paths.get(s.customers, "_current")).trim))
    relink(s, "orders",
      Paths.get(new java.net.URI(s.orders.read().inputFiles.head)).getParent)
    relink(s, "events", Paths.get(s.events))
    GoldQueries.foreach { q =>
      val df = graft.SparkEntry.allDefs(q).build(spark, s.goldIn)
      span("queries.plan")(df.queryExecution.executedPlan)
      span("maint.commit")(s.gold(q).write(df, "gold-rebuild"))
    }
  }

  private def relink(s: State, table: String, target: Path): Unit = {
    val link = Paths.get(s.goldIn, s"$table.parquet")
    val tmp = Paths.get(s.goldIn, s".$table.tmp")
    Files.deleteIfExists(tmp)
    Files.createSymbolicLink(tmp, target.toAbsolutePath)
    Files.move(tmp, link, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def finish(loop: Loop): Outcome = {
    val s = st
    def same(name: String, got: DataFrame, want: DataFrame): Check = {
      val g = got.select(got.columns.sorted.map(c => col(c).cast("string")): _*)
      val w = want.select(want.columns.sorted.map(c => col(c).cast("string")): _*)
      val extra = g.exceptAll(w).count()
      val missing = w.exceptAll(g).count()
      Check(name, extra == 0 && missing == 0,
        s"${g.count()} rows; $extra unexpected, $missing missing")
    }
    val mv = same("mv_equals_init_over_silver", s.mv.read(),
      IncrementalAgg.init(s.orders.read(), Seq("o_custkey"), "o_totalprice"))
    val allCdc = Quality.apply(s.bronze("orders").read(), OrderRules).clean
    val orders = same("silver_orders_equal_one_shot_cdc", s.orders.read(),
      CdcApply.latestState(allCdc.select(OrderCols.map(col): _*), "o_orderkey", "op", Seq("cdc_seq")))
    val scd = s.scd2.read()
    val badCurrent = scd.groupBy("c_custkey")
      .agg(sum(when(col("is_current"), 1).otherwise(0)).as("n")).filter(col("n") =!= 1).count()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("c_custkey").orderBy("effective_start")
    val badChain = scd.withColumn("_next", lead("effective_start", 1).over(w))
      .filter(!(col("effective_end") <=> col("_next")) ||
        (col("effective_end").isNull =!= col("is_current"))).count()
    val scdCheck = Check("scd2_one_current_and_chained", badCurrent == 0 && badChain == 0,
      s"$badCurrent keys without exactly one current row, $badChain broken intervals")
    val ingested = s.bronze.map { case (n, t) => n -> t.read().count() }
    val quarantined = s.quarantine.read().groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
    val clean = Map(
      "customers" -> spark.read.parquet(s.stage).count(),
      "orders" -> allCdc.count(),
      "events" -> spark.read.parquet(s.events).count())
    val conservation = Check("clean_plus_quarantined_equals_ingested",
      clean.forall { case (n, c) => c + quarantined(n) == ingested(n) },
      clean.keys.toSeq.sorted.map(n => s"$n ${clean(n)}+${quarantined(n)}/${ingested(n)}").mkString(", "))

    // gold against its oracle on the final silver parquet (compared by the
    // runner with DuckDB): export the silver heads and gold tables
    val silverOut = s"${ctx.out}/silver"
    spark.read.parquet(s"${s.goldIn}/customer.parquet").write.parquet(s"$silverOut/customer.parquet")
    s.orders.read().write.parquet(s"$silverOut/orders.parquet")
    spark.read.parquet(s.events).write.parquet(s"$silverOut/events.parquet")
    val oracle = GoldQueries.filter(_ != "j1_customer_360").map { q =>
      s.gold(q).read().write.parquet(s"${ctx.out}/gold_$q")
      Map("name" -> q, "got" -> s"${ctx.out}/gold_$q", "tables" -> silverOut,
        "sql" -> graft.SparkEntry.oracleSql(q))
    }

    s.tables.foreach(_.vacuum())
    val tableRoots = Seq("bronze", "quarantine", "silver", "mv", "gold").map(d => Paths.get(s.root, d))
    val storedBytes = tableRoots.map(duBytes).sum
    val batches = loop.results.count(_.kind == "batch")
    Outcome(Seq(mv, orders, scdCheck, conservation), oracle, Map(
      "storage_bytes_per_input_byte" -> storedBytes.toDouble / s.landedBytes,
      "landed_bytes" -> s.landedBytes.toDouble,
      "landed_rows" -> s.landedRows.toDouble,
      "batches" -> batches.toDouble,
      "quality.gate.quarantine_ratio" ->
        quarantined.values.sum.toDouble / ingested.filter(_._1 != "lineitem").values.sum,
      "ops.incr_agg.delta_per_state_row" ->
        (if (s.stateRows == 0) 0.0 else s.deltaRows.toDouble / s.stateRows)))
  }

  private def duBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(f => Files.isRegularFile(f)).map(Files.size).sum
      finally w.close()
    }
}

object Medallion {
  val GoldQueries = Seq("cf1_churn_features", "rv1_revenue_rollup", "j1_customer_360")

  val CustomerSchema: StructType = new StructType()
    .add("c_custkey", LongType).add("c_name", StringType).add("c_nationkey", IntegerType)
    .add("c_acctbal", DoubleType).add("c_mktsegment", StringType).add("updated_at", TimestampType)
  val OrderSchema: StructType = new StructType()
    .add("op", StringType).add("cdc_seq", LongType).add("o_orderkey", LongType)
    .add("o_custkey", LongType).add("o_orderstatus", StringType).add("o_totalprice", DoubleType)
    .add("o_orderdate", TimestampType).add("o_orderpriority", StringType)
  val LineSchema: StructType = new StructType()
    .add("op", StringType).add("cdc_seq", LongType).add("l_orderkey", LongType)
    .add("l_linenumber", IntegerType).add("l_partkey", LongType).add("l_quantity", DoubleType)
    .add("l_extendedprice", DoubleType).add("l_discount", DoubleType).add("l_shipdate", TimestampType)
  val EventSchema: StructType = new StructType()
    .add("event_id", LongType).add("ts", TimestampType).add("user_id", LongType)
    .add("event_type", StringType).add("value", DoubleType).add("props", StringType)

  val OrderCols: Seq[String] = OrderSchema.fieldNames.toSeq
  val ScdCols = Seq("c_custkey", "c_mktsegment", "updated_at")

  private val parsed = Rule("parsed", "_rescued_data IS NULL", Quarantine)
  val CustomerRules = Seq(parsed,
    Rule("name_present", "c_name IS NOT NULL", Quarantine),
    Rule("acctbal_floor", "c_acctbal >= -1000", Quarantine))
  val OrderRules = Seq(parsed,
    Rule("known_op", "op IN ('insert', 'update', 'delete')", Quarantine),
    Rule("price_nonnegative", "o_totalprice >= 0", Quarantine))
  val EventRules = Seq(parsed, Rule("user_present", "user_id IS NOT NULL", Quarantine))
}
