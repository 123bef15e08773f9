package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dev tool: dump `.explain("formatted")` for named battery entries to
  * files — the optimization-round evidence artifact (plans/<round>/).
  *
  * Usage: runMain graft.Explain <outDir> <entry>[,<entry>...] [suffix]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS
  * (default: the host's processor count).
  * Writes <outDir>/<entry>_<suffix>.txt (suffix default "plan").
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val names = args(1).split(",").toSeq
    val suffix = if (args.length > 2) args(2) else "plan"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
      println(s"[explain] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
