package perfbench

import java.nio.file.{Files, Paths}

/** Seed-independent inputs of one workload, made once per checkout: a
  * ScaleGen corpus of the base testdata and the oracle SQL of every
  * query the workload checks.
  *
  * Usage: perfbench.Prepare <cores> <testdata dir> <out dir> <workload>
  */
object Prepare {
  def main(args: Array[String]): Unit = {
    val Array(cores, testdata, out, workload) = args
    val spark = graft.core.GraftSession.local(cores.toInt)
    // the analyst queries run on the factor-10 corpus and are checked
    // there; serve appends come from replica 1 of a factor-2 corpus and
    // its oracles run on the base corpus
    val (factor, names) = workload match {
      case "analyst_scan_10x" => (10, Analyst.Queries)
      case "serve_ivf_mixed" => (2, Serve.OracleOf.values.toSeq)
    }
    graft.ScaleGen.generate(spark, testdata, s"$out/corpus", factor)
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      org.json4s.jackson.Serialization.write(
        names.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap)(org.json4s.DefaultFormats))
    spark.stop()
  }
}
