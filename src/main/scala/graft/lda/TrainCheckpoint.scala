package graft.lda

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, Row, SparkSession}

/** Durable training-state store for [[LdaTrainer.trainResumable]], at
  * every word-shard count S. The model is not stored (resume recounts it
  * from the doc assignments), and neither is S: a resume continues the
  * same chain only with the S it was started with.
  *
  * Layout: `dir/ckpt_<iter>/{docs,accum,meta}` — doc assignments as
  * parquet (the only corpus-sized piece, written distributed), the
  * burn-in accumulator as (idx, v) parquet, and a one-row json meta
  * written LAST so its `_SUCCESS` marks the checkpoint complete; a crash
  * mid-save leaves a metaless directory that load ignores. Checkpoints
  * are versioned by iteration (no in-place overwrite of the previous
  * good state), and load picks the newest complete one. Works on any
  * Hadoop filesystem (local, HDFS, object stores).
  *
  * Meta carries `num_parts` — the canonical doc-partition count — so a
  * resumed run can re-impose the EXACT layout the uninterrupted chain
  * used (see [[LdaTrainer.canonicalLayout]]: byte-identical resume), and
  * the per-iteration `iter_ms`/`bcast_ms` traces, so a resumed Result's
  * timing arrays stay parallel to its likelihood array instead of
  * restarting empty. */
object TrainCheckpoint {

  final case class State(docs: Dataset[DocState], iter: Int,
      accum: Array[Double], nAccum: Int, lls: Array[Double],
      /** canonical doc-partition count; 0 in pre-r11 checkpoints
        * (caller falls back to the loaded parquet's partitioning) */
      numParts: Int,
      iterMs: Array[Long], bcastMs: Array[Long])

  def save(dir: String, docs: Dataset[DocState], iter: Int,
      accum: Array[Double], nAccum: Int, lls: Array[Double],
      numParts: Int, iterMs: Array[Long], bcastMs: Array[Long]): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base = s"$dir/ckpt_$iter"
    docs.write.mode("overwrite").parquet(s"$base/docs")
    spark.createDataset(accum.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v) })
      .toDF("idx", "v").write.mode("overwrite").parquet(s"$base/accum")
    Seq((iter, nAccum, lls.toSeq, numParts, iterMs.toSeq, bcastMs.toSeq))
      .toDF("iter", "n_accum", "lls", "num_parts", "iter_ms", "bcast_ms")
      .write.mode("overwrite").json(s"$base/meta") // presence = complete
  }

  /** Newest complete checkpoint under `dir`, or None. */
  def load(spark: SparkSession, dir: String, numWords: Int, numTopics: Int): Option[State] = {
    import spark.implicits._
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(dir))) return None
    val ckptName = "ckpt_(\\d+)".r // strict: ignore ckpt_4_old etc.
    val complete = fs.listStatus(new Path(dir)).toSeq
      .filter(_.isDirectory)
      .flatMap { s =>
        s.getPath.getName match {
          case ckptName(n) if fs.exists(new Path(s.getPath, "meta/_SUCCESS")) =>
            Some(n.toInt -> s.getPath)
          case _ => None
        }
      }
    if (complete.isEmpty) return None
    val (iter, path) = complete.maxBy(_._1)
    val meta = spark.read.json(path.toString + "/meta").collect()(0)
    // optional fields tolerate pre-r11 checkpoints (json schema = fields
    // present at save time)
    def optLong(r: Row, name: String, default: Long): Long =
      if (r.schema.fieldNames.contains(name) && !r.isNullAt(r.fieldIndex(name)))
        r.getAs[Long](name)
      else default
    def optLongs(r: Row, name: String): Array[Long] =
      if (r.schema.fieldNames.contains(name) && !r.isNullAt(r.fieldIndex(name)))
        r.getAs[scala.collection.Seq[Long]](name).toArray
      else Array.empty[Long]
    val nAccum = meta.getAs[Long]("n_accum").toInt
    val lls = meta.getAs[scala.collection.Seq[Double]]("lls").toArray
    val accum = new Array[Double]((numWords + 1) * numTopics)
    spark.read.parquet(path.toString + "/accum")
      .as[(Long, Double)].collect()
      .foreach { case (i, v) => accum(i.toInt) = v }
    val docs = spark.read.parquet(path.toString + "/docs").as[DocState]
    Some(State(docs, iter, accum, nAccum, lls,
      optLong(meta, "num_parts", 0L).toInt,
      optLongs(meta, "iter_ms"), optLongs(meta, "bcast_ms")))
  }
}
