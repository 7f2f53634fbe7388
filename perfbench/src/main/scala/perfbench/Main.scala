package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the run: the session, the tracer, the
  * run's own work directory and the generated inputs. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long,
    work: String, testdata: String, inputs: String, out: String) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

/** A check of the program's output, made after the window closes. */
final case class Check(name: String, ok: Boolean, detail: String)

/** What a workload hands back after its window: checks it made itself,
  * oracle comparisons for the runner (`name`, `got` parquet dir and the
  * oracle to compare with), and figures beyond the common metrics. */
final case class Outcome(checks: Seq[Check], oracle: Seq[Map[String, String]],
    extras: Map[String, Double])

trait Workload {
  /** Build fresh program state and warm up (JIT, codegen) every operation
    * kind. One set-up per run: set-up is the costliest phase of every
    * workload, and a second one does not fit the run's time budget. */
  def setup(): Unit
  /** False once the generated inputs are used up. */
  def hasNext: Boolean = true
  /** True while a round that must be completed is in progress: the window
    * closing does not cut it short. */
  def midRound: Boolean = false
  def step(loop: Loop): Unit
  def finish(loop: Loop): Outcome
}

/** One benchmark run in a fresh JVM: set-up, a closed-loop window of
  * `--seconds`, then output checks. Writes `result.json`, `ops.csv` and, in
  * the traced run, `spans.csv`, `jobs.csv` and `stages.csv` to `--out`.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --cores <n> --work <dir> --out <dir>
  *   --testdata <dir> --inputs <dir>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val trace = a("trace") == "1"
    val t0 = System.nanoTime()
    val spark = graft.core.GraftSession.local(a("cores").toInt)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val listener = if (trace) Some(new JobListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer(spark.sparkContext, trace)
    val ctx = Ctx(spark, tracer, a("seed").toLong, a("work"), a("testdata"),
      a("inputs"), a("out"))
    Files.createDirectories(Paths.get(ctx.out))
    val w: Workload = a("workload") match {
      case "medallion_incremental" => new Medallion(ctx)
      case "analyst_scan_10x" => new Analyst(ctx)
      case "serve_ivf_mixed" => new Serve(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    val setupS = seconds(tracer.span("core.setup")(w.setup()))

    val loop = new Loop(a("seconds").toDouble)
    loop.start()
    while ((loop.open || w.midRound) && w.hasNext) w.step(loop)
    loop.stop()
    val rssMb = peakRssMb()
    val tFinish = System.nanoTime()
    val outcome = w.finish(loop)
    val finishS = (System.nanoTime() - tFinish) / 1e9

    listener.foreach { l =>
      l.drain()
      l.write(s"${ctx.out}/jobs.csv", s"${ctx.out}/stages.csv")
      tracer.write(s"${ctx.out}/spans.csv")
    }
    loop.write(s"${ctx.out}/ops.csv")
    val result = Map(
      "workload" -> a("workload"),
      "cores" -> a("cores").toInt,
      "session_s" -> sessionS,
      "setup_s" -> setupS,
      "busy_s" -> loop.busySeconds,
      "peak_rss_mb" -> rssMb,
      "finish_s" -> finishS,
      "checks" -> outcome.checks.map(c =>
        Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "oracle" -> outcome.oracle,
      "extras" -> outcome.extras)
    Files.writeString(Paths.get(s"${ctx.out}/result.json"),
      org.json4s.jackson.Serialization.write(result)(org.json4s.DefaultFormats))
    spark.stop()
  }

  private def seconds(body: => Unit): Double = {
    val t = System.nanoTime()
    body
    (System.nanoTime() - t) / 1e9
  }

  /** High-water resident set of this JVM, from the kernel's count. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(sys.error("no VmHWM in /proc/self/status"))
}
