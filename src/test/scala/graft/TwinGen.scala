package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only 10× fixture twin generator (test scope, not shipped): the
  * driver provides sf ∈ {0.001, 0.01, 0.1}; this replicates sf0.1 into
  * an sf1-shaped directory so the WHOLE 341-entry battery can be swept
  * one decade up the curve (magnitude-dependent float/rank divergence —
  * rank ties, ln/exp ranges, cumulative-sum widths — only shows up when
  * the magnitudes change). The oracle needs no twin of its own: DuckDB
  * reads the same generated parquet.
  *
  * Replication is REPLICA-DISJOINT by construction, so per-replica
  * structure equals the base corpus and totals grow linearly (verbatim
  * copies make all m replicas mutual near-dups: an m² pair blowup that
  * measures the data, not the engine):
  *  - every int64 id key (custkey/orderkey/partkey/suppkey/user_id/
  *    event_id/doc_id/vec_id) shifts by the SAME rep·10⁷ constant, so
  *    within-replica joins are preserved and replicas never collide;
  *  - event times shift a decade per replica → the co-activity graph,
  *    sessions, and watermark streams become 10 disjoint copies (the
  *    all-pairs-BFS entry stays inside its V ≤ 16384 contract);
  *  - document tokens get a per-replica prefix (replica 0 untouched), so
  *    each replica keeps the base corpus's exact-dup/near-dup/repeat
  *    structure with a disjoint vocabulary;
  *  - embeddings are dimension-ROLLED per replica (circular shift, norm
  *    preserved, replica 0 untouched) — cross-replica cosines decorrelate
  *    instead of 45 exact twins per vector.
  * Dimension tables (region, nation) copy verbatim: their keys are
  * referenced, not scaled, exactly like TPC-H.
  *
  * Run: sbt "Test/runMain graft.TwinGen /root/testdata/sf0.1 /tmp/sf1 10"
  * An optional 4th arg restricts output to a comma-list of tables (e.g.
  * "documents" for the ×1000 single-operator decade probes, where
  * replicating the 600M-row lineitem would cost tens of GB for nothing).
  */
object TwinGen {
  val KeyShift = 10000000L

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/sf1")
    val m = args.lift(2).map(_.toInt).getOrElse(10)
    val only = args.lift(3).map(_.split(",").toSet)

    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    // Multi-file layout, like any real big dataset. The r15 sweep found
    // that the natural 1-partition write (tiny source scan × broadcast
    // replica range) produced e.g. ONE 78 MB documents file at ×100 —
    // under maxPartitionBytes, so every scan-dominated operator "swept at
    // 100×" on a single core: the r13/r14 per-doc-family sf10 numbers
    // measured the FIXTURE's file layout, not the engine. A 100 TB table
    // arrives as thousands of ≤128 MB splits; the twin now does too
    // (scaled with the replica count so per-file size stays put).
    val files = math.max(32, m)
    def write(df: => DataFrame, t: String): Unit =
      if (only.forall(_.contains(t))) {
        df.repartition(files)
          .write.mode("overwrite").parquet(s"$dst/$t.parquet")
        println(s"WROTE $t: ${spark.read.parquet(s"$dst/$t.parquet").count()} rows")
      }
    /** Replicate m× with a `rep` column for the per-replica rewrites. */
    def rep(df: DataFrame): DataFrame =
      df.crossJoin(spark.range(m).toDF("rep"))
    def shift(c: String) = (col(c) + col("rep") * lit(KeyShift)).as(c)

    write(read("region"), "region")
    write(read("nation"), "nation")

    write(rep(read("customer")).select(shift("c_custkey"), col("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")), "customer")

    write(rep(read("supplier")).select(shift("s_suppkey"), col("s_name"),
      col("s_nationkey"), col("s_acctbal")), "supplier")

    write(rep(read("part")).select(shift("p_partkey"), col("p_name"),
      col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice")),
      "part")

    write(rep(read("orders")).select(shift("o_orderkey"), shift("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")), "orders")

    write(rep(read("lineitem")).select(shift("l_orderkey"), shift("l_partkey"),
      shift("l_suppkey"), col("l_linenumber"), col("l_quantity"),
      col("l_extendedprice"), col("l_discount"), col("l_tax"),
      col("l_returnflag"), col("l_linestatus"), col("l_shipdate")),
      "lineitem")

    // a decade per replica keeps every time-keyed structure (co-activity
    // cells, sessions, windows) replica-local
    write(rep(read("events")).select(shift("event_id"),
      expr("ts + make_interval(CAST(rep * 10 AS INT), 0, 0, 0, 0, 0, 0)").as("ts"),
      shift("user_id"), col("event_type"), col("value"), col("props")),
      "events")

    // per-replica token prefix (replica 0 verbatim): disjoint vocabularies,
    // identical within-replica dup/repeat structure; n_chars re-derived so
    // it stays consistent with the rewritten text
    write(rep(read("documents")).select(shift("doc_id"),
      when(col("rep") === 0, col("text"))
        .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
          concat(lit("r"), col("rep"), lit("_$1")))).as("text"),
      col("lang"), col("source"),
      length(when(col("rep") === 0, col("text"))
        .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
          concat(lit("r"), col("rep"), lit("_$1"))))).cast("long").as("n_chars")),
      "documents")

    // circular dimension roll (replica 0 verbatim): norms and in-replica
    // geometry exact, cross-replica cosines decorrelated
    val dim = read("embeddings").select(size(col("embedding"))).head().getInt(0)
    write(rep(read("embeddings")).select(shift("vec_id"),
      expr(s"""CASE WHEN rep = 0 THEN embedding ELSE
               concat(slice(embedding, CAST(rep % $dim + 1 AS INT), CAST($dim - rep % $dim AS INT)),
                      slice(embedding, 1, CAST(rep % $dim AS INT))) END""")
        .as("embedding"),
      col("label")), "embeddings")

    println(s"TWIN at $dst = $src x $m")
    spark.stop()
  }
}
