package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // SPARK_GRAFT_MAX_PART_BYTES: scan-split ceiling override for local
    // sweeps. A production 100 TB table arrives as thousands of splits
    // and saturates any executor count; a local twin's whole text corpus
    // can land under ONE 128 MB split (the r15 sweep measured the whole
    // per-doc family running single-core because of it). Setting e.g.
    // 4m at sweep scale restores dataset-like scan parallelism without
    // touching production defaults. openCost drops with it so small
    // files don't re-pack into one split.
    sys.env.get("SPARK_GRAFT_MAX_PART_BYTES").foreach { v =>
      b.config("spark.sql.files.maxPartitionBytes", v)
      b.config("spark.sql.files.openCostInBytes", "262144")
    }
    // SPARK_GRAFT_STATE_STORE=rocksdb applies the GraftSession
    // streamingBuilder production preset, so the whole battery (and in
    // particular its 13 streaming entries) can be oracle-swept under the
    // RocksDB provider — results must be provider-independent
    if (sys.env.get("SPARK_GRAFT_STATE_STORE").contains("rocksdb")) {
      b.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      b.config(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_DIST_WRITE=1 skips the coalesce(1) below and writes the
    // result with its natural partitioning. The single-file default is the
    // DRIVER contract (its compare reads one file per entry) and is free at
    // sf0.01 — but at sweep scales the big-output entries (pii_redact and
    // the per-doc text family) pay a single-task ordered parquet write that
    // the r14 sf10 sweep measured as the WHOLE >10×/decade tail. A global
    // orderBy's range-partitioned write keeps part-file name order = row
    // order, and tools/compare.py streams all part files in sorted name
    // order, so the rendered byte stream (and hash) is identical either way.
    val distWrite = sys.env.get("SPARK_GRAFT_DIST_WRITE").contains("1")
    // SPARK_GRAFT_NOOP_WRITE=1 sinks results to the noop format instead of
    // parquet: full computation, zero output I/O. Sweep-only decomposition
    // knob (operator cost vs harness write cost); produces NO result dirs,
    // so it is never combined with a compare run.
    val noopWrite = sys.env.get("SPARK_GRAFT_NOOP_WRITE").contains("1")
    // dev filter: SPARK_GRAFT_QUERIES=a,b restricts the run (driver sets none)
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSet)
    // Failures must be LOUD: a query that throws leaves an explicit
    // `<name>.error.txt` marker (and no result dir), so the driver's
    // correctness report shows an error row instead of silently omitting
    // the query — in r4/r5 a fixture-schema drift erased 20 green entries
    // from CORRECTNESS with no artifact saying so.
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    // Per-entry wall time to stderr AND timings.tsv: at bigger sweep
    // scales (the sf1 twin) a single magnitude-sensitive entry can
    // degenerate — without per-entry logs the only diagnostic is a
    // jstack of a silent JVM (the r12 sf1 sweep learned this)
    val timings = new StringBuilder
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      val errMarker = Paths.get(s"$outDir/$name.error.txt")
      Files.deleteIfExists(errMarker)
      val t0 = System.nanoTime()
      try {
        val res = fn(spark, sfDir)
        if (noopWrite)
          res.write.format("noop").mode("overwrite").save()
        else
          (if (distWrite) res else res.coalesce(1))
            .write.mode("overwrite").parquet(s"$outDir/$name")
        val dt = (System.nanoTime() - t0) / 1e9
        timings.append(f"$name\t$dt%.2f%n")
        System.err.println(f"[verify] $name ok in $dt%.1fs")
      } catch { case NonFatal(e) =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Files.writeString(errMarker,
          s"${e.getClass.getName}: ${e.getMessage}\n")
      }
    }
    Files.writeString(Paths.get(s"$outDir/timings.tsv"), timings.toString)
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} FAILED: ${failed.mkString(",")}")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
