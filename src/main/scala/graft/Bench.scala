package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Benchmark main (BASELINE.md protocol): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line. A warmup pass (q01 + a small
  * aggregate) absorbs JVM/codegen startup so per-query numbers reflect
  * steady state. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    // Shuffle/spill codec knob for isolated A/B runs (BENCH_ab protocol).
    // The bench default stays Spark's lz4 (round-over-round continuity:
    // every BENCH_r* ran lz4): the r12 interleaved A/B measured zstd at
    // +2.2% median on this CPU-bound small-shuffle battery
    // (BENCH_ab_r12.json), while GraftSession's zstd default targets
    // I/O-bound 100 TB shuffles where it cut spill ~35% (r10).
    val ioCodec = sys.env.getOrElse("GRAFT_IO_CODEC", "lz4")
    // the codec string is interpolated into the hand-built JSON hostMeta
    // below — restrict to the known codec set up front so a quote or
    // backslash in the env can never emit an unparseable BENCH artifact
    require(Set("lz4", "zstd", "snappy", "lzf").contains(ioCodec),
      s"GRAFT_IO_CODEC must be one of lz4|zstd|snappy|lzf, got '$ioCodec'")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.io.compression.codec", ioCodec)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    // SPARK_GRAFT_EVENTLOG=<dir>: write the Spark event log so a local
    // profiling pass can attribute per-query wall time to jobs/stages
    // (guide §1.1: find where the time actually goes before changing
    // anything). Off by default — the driver's bench run stays untouched.
    sys.env.get("SPARK_GRAFT_EVENTLOG").foreach { dir =>
      new java.io.File(dir).mkdirs()
      builder.config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", dir)
    }
    // SPARK_GRAFT_EXTRA_CONF="k=v;k=v": ad-hoc conf overrides for local
    // A/B experiments (e.g. AQE coalescing knobs). The driver sets none,
    // so its bench always runs the committed defaults. The parsed pairs
    // are echoed into the emitted JSON (extra_conf) so an override run —
    // including one that changes spark.io.compression.codec past the
    // GRAFT_IO_CODEC allowlist — can never masquerade as a defaults run;
    // note ';' is the pair separator, so values containing ';' cannot be
    // passed through this knob (the echo shows what was actually set).
    val extraConf: Seq[(String, String)] =
      sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq.flatMap {
        _.split(";").filter(_.contains("=")).map { kv =>
          val Array(k, v) = kv.split("=", 2)
          (k.trim, v.trim)
        }
      }
    extraConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warmup: JIT + codegen + parquet footer caches, one touch per fixture
    // table family (documents/lineitem via q01/q25, events via q17,
    // embeddings + the native DotProduct expression via q23) so every
    // timed query measures steady state, not first-table costs
    Seq("q01_scan_project", "q25_scan_agg", "q17_time_agg", "q23_cosine_topk").foreach { name =>
      try SparkEntry.queries.get(name).foreach(_(spark, sfDir).count())
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
      }
    }

    // dev filter: SPARK_GRAFT_QUERIES=q1,q2 restricts the run (driver sets none)
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSet)
    // A query that throws is recorded in `failed`, NOT timed: its fail-fast
    // elapsed time would otherwise masquerade as a (fast) successful run —
    // in r5 twenty analysis-error queries showed up as plausible ~0.06 s
    // entries and inflated n_queries. Failures are excluded from value,
    // n_queries, and the queries map.
    // Host-contention self-adjudication (BENCH.md's "compare warm runs
    // only" rule, machine-readable): record the 1-min load average before
    // and after the battery so a contended run carries its own evidence —
    // load far above the battery's own footprint on the host means
    // the total is noise-inflated and per-query A/B re-runs decide.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadStart = osBean.getSystemLoadAverage

    val failed = scala.collection.mutable.ListBuffer.empty[String]
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .flatMap { case (name, fn) =>
        // attribute shared-cache builds to the entry whose timing pays
        // them (CacheLog → the cache_builds field below)
        CacheLog.currentQuery = name
        // label jobs with the entry name (guide §1.5) so the event log /
        // UI attributes every job to the query that ran it
        spark.sparkContext.setJobDescription(name)
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          Some(name -> (System.nanoTime() - t0) / 1e9)
        } catch { case NonFatal(e) =>
          failed += name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          None
        } finally CacheLog.currentQuery = ""
      }
    // The driver captures only the LAST 2000 chars of stdout (measured:
    // BENCH_r01/r02 tails are exactly 2000 and both cut the head of a
    // full per-query line → "parsed": null). So the printed line carries
    // the total plus the top-40 slowest queries (~1.2 KB, fits with the
    // trailing sbt [success] line), and the COMPLETE per-query map goes
    // to BENCH_full.json for humans/the judge.
    def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def qmap(rs: Seq[(String, Double)], fmt: Double => String): String =
      rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val b3 = results.filter(_._1.matches("q\\d\\d_.*")).map(_._2).sum
    val top = results.sortBy(-_._2).take(40).sortBy(_._1)
    def f2(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    // stderr on failure (stdout stays reserved for the JSON line), and the
    // stale file is removed first so a failed write can never present an
    // old run's per-query map as this run's.
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // BENCH_full.json is the CANONICAL full-battery artifact: when a dev
    // filter restricts the run, the complete map goes to a separate file so
    // a partial (e.g. A/B) run can never overwrite the battery record.
    val fullPath = if (only.isEmpty) "BENCH_full.json" else "BENCH_partial.json"
    val loadEnd = osBean.getSystemLoadAverage
    // cold = fresh JVM over a fresh fixture read (the default for a
    // driver run); a caller doing warm A/B re-runs marks them explicitly
    val mode = sys.env.getOrElse("GRAFT_BENCH_MODE", "cold")
    def jstr(s: String): String = "\"" + CacheLog.esc(s) + "\""
    val extraConfJson =
      if (extraConf.isEmpty) ""
      else extraConf.map { case (k, v) => jstr(k) + ":" + jstr(v) }
        .mkString(""","extra_conf":{""", ",", "}")
    val hostMeta =
      s""""mode":"$mode","io_codec":"$ioCodec",""" +
      s""""host_cpus":${Runtime.getRuntime.availableProcessors},""" +
      s""""load_avg_start":${f(loadStart)},"load_avg_end":${f(loadEnd)}""" +
      extraConfJson
    try {
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(fullPath))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(fullPath),
        s"""{"metric":"total","value":${f(total)},"unit":"sec","n_queries":${results.size},"failed":$failedJson,"relational_b3_sec":${f(b3)},$hostMeta,"cache_builds":${CacheLog.asJson},"queries":${qmap(results, f)},"sf":"$sfDir"}""" + "\n")
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] $fullPath write failed: $e")
    }
    println(s"""{"metric":"total","value":${f(total)},"unit":"sec","n_queries":${results.size},"failed":$failedJson,"relational_b3_sec":${f(b3)},"queries":${qmap(top, f2)},"sf":"$sfDir"}""")
    spark.stop()
  }
}
