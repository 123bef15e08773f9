package org.apache.spark.graftbridge

import org.apache.spark.rdd.RDD

/** Drops the cached blocks of a locally checkpointed RDD through the
  * `private[spark]` `SparkContext.unpersistRDD`, the call Spark's
  * ContextCleaner makes for an RDD that is gone. `RDD.unpersist` makes
  * the same call, but first warns that the RDD "cannot be recomputed
  * after unpersisting": a warning for callers that may still read it.
  * A caller that has already moved every reader onto a newer checkpoint
  * drops the old one without that false alarm. Lives under
  * `org.apache.spark` solely to satisfy the access qualifier. */
object CheckpointBridge {
  def drop(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
