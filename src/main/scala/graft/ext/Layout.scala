package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout operators for scan pruning at rest. A 100 TB table is only
  * as fast as the fraction of files a query can skip; Z-ordering clusters
  * rows so that min/max footer stats prune on BOTH of two dimensions at
  * once (the idea behind Delta/Iceberg `OPTIMIZE ... ZORDER BY`). */
object Layout {

  /** Target-file-size write planner: per partition-key, the exact
    * UTF-8/fixed-width byte volume of the projected columns and the file
    * count a writer should coalesce to for ~`targetBytes` files — the
    * planning arithmetic behind "no 4 KB shards, no 4 GB monoliths" at
    * 100 TB (small-file storms kill the namenode and the scan scheduler;
    * oversized files kill task balance). String columns contribute
    * `octet_length`, numeric/timestamp columns their fixed width —
    * deterministic integer arithmetic, so the whole plan is
    * oracle-checkable (not an estimate pulled from cached statistics).
    * One partial+final aggregation; at scale this replaces the
    * guess-and-rewrite loop with one cheap pass before the write. */
  def writePlan(df: DataFrame, partCol: String, strCols: Seq[String],
      fixedWidth: Long, targetBytes: Long = 512L * 1024 * 1024): DataFrame = {
    val rowBytes = strCols.map(c => octet_length(col(c)).cast("long"))
      .reduceOption(_ + _).getOrElse(lit(0L)) + lit(fixedWidth)
    df.groupBy(col(partCol))
      .agg(count(lit(1)).as("n_rows"), sum(rowBytes).as("est_bytes"))
      .select(col(partCol), col("n_rows"), col("est_bytes"),
        greatest(lit(1L), ceil(col("est_bytes") / lit(targetBytes.toDouble))
          .cast("long")).as("n_files"))
  }

  /** Z-order (Morton) key: interleaves the low `bits` bits of two
    * non-negative integer columns — x in even positions, y in odd. Rows
    * sorted by this key are clustered in both x and y, so per-file min/max
    * ranges stay tight on each dimension separately. Pure bit arithmetic
    * (shift/and/or), fully inside whole-stage codegen — no UDF. */
  def zorderKey(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, "bits in [1, 31]")
    (0 until bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** Cluster `df` into `nFiles` Z-ordered output files: compute the key,
    * range-partition on it, sort within partitions, and hand back the
    * frame ready for a parquet write where each file covers one compact
    * Z-range. `repartitionByRange` samples boundaries — the production
    * path; for a deterministic file id (fixture/oracle use) rank the key
    * explicitly instead (see ext_zorder). */
  def clusterByZorder(df: DataFrame, x: Column, y: Column,
      nFiles: Int, bits: Int = 16): DataFrame = {
    val keyed = df.withColumn("zkey", zorderKey(x, y, bits))
    keyed.repartitionByRange(nFiles, col("zkey"))
      .sortWithinPartitions("zkey")
  }

  /** Volume-derived bucket count for [[writeBucketed]]: the projected
    * uncompressed byte volume (the [[writePlan]] arithmetic — string
    * columns by `octet_length`, the rest by their fixed width) divided
    * into `targetBytes` buckets, clamped to [`minBuckets`, `maxBuckets`]
    * and rounded UP to a power of two. Why each knob:
    *   - bucket count bounds the parallelism of EVERY future join on the
    *     table, so the safe error direction is more buckets, never fewer
    *     (the floor, default 8, keeps toy tables from degenerating to 1);
    *   - power-of-two counts keep differently-sized tables join-coalesce
    *     compatible (Spark's bucket coalescing needs one count to divide
    *     the other);
    *   - the default 16 MB of projected bytes per bucket lands bucket
    *     files in the tens-of-MB parquet range while giving a 100 TB
    *     fact table ~2^22 buckets' worth of join parallelism headroom
    *     (`maxBuckets` caps runaway counts from a mis-typed width).
    * One cheap aggregate pass over the input — the same "measure, then
    * write" doctrine as [[writePlan]], replacing the hardcoded count the
    * r12 sf1 sweep caught scaling superlinearly. */
  def bucketCount(df: DataFrame, strCols: Seq[String], fixedWidth: Long,
      targetBytes: Long = 16L * 1024 * 1024, minBuckets: Int = 8,
      maxBuckets: Int = 1 << 22): Int = {
    require(minBuckets >= 1 && Integer.bitCount(minBuckets) == 1,
      s"minBuckets must be a power of two, got $minBuckets")
    require(maxBuckets >= minBuckets && Integer.bitCount(maxBuckets) == 1,
      s"maxBuckets must be a power of two >= minBuckets, got $maxBuckets")
    require(targetBytes > 0, "targetBytes must be positive")
    // Each string term is null-coalesced: a single NULL column would
    // null the whole per-row sum and `sum` would silently DROP the row
    // from the volume estimate — shrinking the count, the unsafe error
    // direction (fewer buckets = less future join parallelism).
    val rowBytes = strCols
      .map(c => coalesce(octet_length(col(c)).cast("long"), lit(0L)))
      .reduceOption(_ + _).getOrElse(lit(0L)) + lit(fixedWidth)
    val est = df.agg(coalesce(sum(rowBytes), lit(0L))).head().getLong(0)
    val need = math.max(minBuckets.toLong, (est + targetBytes - 1) / targetBytes)
    // Round up to a power of two FIRST, then clamp: maxBuckets is itself
    // required pow2 above, so the clamp can't un-round the result, and
    // the loop can't overflow (need is capped before the shift).
    var p = minBuckets
    while (p < math.min(need, maxBuckets.toLong)) p <<= 1
    math.min(p, maxBuckets)
  }

  /** Bucketed managed-table write: hash-bucket by `key` into `nBuckets`
    * files, sorted by `key` within each bucket. A scan of the result
    * reports HashPartitioning(key, nBuckets) to the planner, so a join
    * (or aggregation) on `key` between two tables bucketed the SAME way
    * runs with ZERO shuffle exchanges — the co-located join that turns
    * the nightly 100 TB fact⋈fact from a full-network shuffle into a
    * per-bucket local merge. Write once, join every night for free.
    *
    * The input is repartitioned on `key` into `nBuckets` tasks first:
    * repartition's HashPartitioning is the same murmur3-pmod the bucket
    * id uses, so each task holds exactly one bucket's rows — the write
    * runs `nBuckets`-way parallel regardless of input split count (a
    * raw write runs at SCAN parallelism: one 128 MB-split task can end
    * up sorting the whole table), and every bucket lands in exactly one
    * sorted file. Size `nBuckets` with [[bucketCount]]. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      nBuckets: Int): Unit =
    df.repartition(nBuckets, col(key))
      .write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, key).sortBy(key).saveAsTable(table)

  /** (Re)create a bucketed table idempotently: drops a stale catalog
    * entry AND clears a leftover warehouse directory from a previous
    * JVM (the session catalog is in-memory, so a crashed run can leave
    * orphaned files that would fail the CREATE). */
  def rebuildBucketed(df: DataFrame, table: String, key: String,
      nBuckets: Int): Unit = {
    val s = df.sparkSession
    s.sql(s"DROP TABLE IF EXISTS $table")
    // Resolve the table's managed location from the CATALOG (correct for
    // qualified names, where `db.tbl` lives under `<db>.db/tbl`, not
    // `<warehouse>/db.tbl`), and only clean a local-filesystem path that
    // is genuinely under the warehouse root — never a custom location or
    // a remote scheme this JVM can't (and shouldn't) rm -rf.
    val ident = s.sessionState.sqlParser.parseTableIdentifier(table)
    val loc = s.sessionState.catalog.defaultTablePath(ident)
    def localPath(u: java.net.URI): Option[java.nio.file.Path] =
      if (u.getScheme == null) Some(java.nio.file.Paths.get(u.getPath))
      else if (u.getScheme == "file") Some(java.nio.file.Paths.get(u.getPath))
      else None
    val wh = java.net.URI.create(s.conf.get("spark.sql.warehouse.dir"))
    (localPath(loc), localPath(wh)) match {
      case (Some(dir), Some(whDir))
          if dir.normalize.startsWith(whDir.normalize) =>
        deleteRecursively(dir)
      case _ => () // non-local or outside the warehouse: DROP TABLE suffices
    }
    writeBucketed(df, table, key, nBuckets)
  }

  /** Deletes a local file tree, children before parents; a missing path is
    * a no-op. The directory stream is closed however the walk ends. */
  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(f => java.nio.file.Files.deleteIfExists(f))
      finally walk.close()
    }

  /** Hive-style partitioned parquet write: one directory per value of
    * `partCol`. The complementary read path prunes whole directories from
    * the LISTING — a `WHERE partCol = v` never opens, stats-checks, or
    * schedules a single file of any other partition (the coarsest and
    * cheapest pruning level, before footer min/max even applies). This is
    * THE layout decision for a 100 TB corpus keyed by a low-cardinality
    * dimension (language, source, date): scans restricted to one value
    * touch 1/|partitions| of the bytes by construction.
    *
    * Keep `partCol` low-cardinality: each distinct value is a directory,
    * and each task writes one file per value it sees — a high-cardinality
    * key degenerates into millions of tiny files (use [[clusterByZorder]]
    * or bucketing for those instead). */
  def writePartitioned(df: DataFrame, path: String, partCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partCol).parquet(path)

  /** Read back a [[writePartitioned]] dataset. Partition-column values
    * come from directory names (hive-style discovery); `basePath` keeps
    * the column in the schema. Plan hygiene: a filter on the partition
    * column must land in the scan's `PartitionFilters` (asserted in
    * PlanSpec), not in a post-scan Filter node. */
  def readPartitioned(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.option("basePath", path).parquet(path)
}
