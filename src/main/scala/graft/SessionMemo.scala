package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The battery's one memo for shared builds (candidate pairs, suffix
  * ranks, the co-activity graph, the fitted LDA model, …): each is built
  * once per (SparkContext, fixture dir, name) and reused by every entry
  * that reads it.
  *  - Key: the SparkContext object itself. Cached DataFrames, checkpoints
  *    and broadcasts die with their context, so a second session in one
  *    JVM rebuilds rather than inheriting dead handles.
  *  - Attribution: a miss calls [[CacheLog.built]] with `name`.
  *  - Release: every call first drops the entries of stopped contexts, so
  *    a stopped session's values become unreachable.
  * The caller picks the persist level inside `build`. */
object SessionMemo {
  private val entries =
    scala.collection.concurrent.TrieMap[(SparkContext, String, String), Any]()

  def apply[T](s: SparkSession, dir: String, name: String)(build: => T): T = {
    entries.filterInPlace((k, _) => !k._1.isStopped)
    entries.getOrElseUpdate((s.sparkContext, dir, name), {
      CacheLog.built(name)
      build
    }).asInstanceOf[T]
  }
}
