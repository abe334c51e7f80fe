package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Write `.explain("formatted")` for the named gate queries to files —
  * the plan evidence committed under plans/<round>/.
  * Usage: runMain graft.tools.ExplainDump <name[,name2,...]> <sfDir> <outDir> [suffix]
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 2) args(2) else "plans/r13"
    val suffix = if (args.length > 3) args(3) else "before"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // optional conf overrides, e.g. to put every graph operator (connected
    // components included) on its distributed loop:
    // GRAFT_EXPLAIN_CONF="graft.graph.localEdgeThreshold=0,other=v"
    sys.env.get("GRAFT_EXPLAIN_CONF").foreach(_.split(',').foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    })
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"[explaindump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
