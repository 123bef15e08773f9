package graft

/** Build-attribution log for the battery's session-keyed shared caches
  * (candidate pairs, co-activity graph, suffix ranks, BPE merges, shingle
  * sets, …). The battery amortizes each expensive build across every
  * entry that reads it, which means the FIRST entry to touch a cache
  * pays the build inside its own timing — in bench output that
  * first-touch entry looks like a regression unless the build is named.
  * [[Bench]] sets [[currentQuery]] around each timed entry and
  * [[SessionMemo]] calls [[built]] on a miss, so BENCH_full.json can
  * carry a `cache_builds` map: cache name → the entry whose time
  * includes that build. */
object CacheLog {
  @volatile var currentQuery: String = ""

  /** cache name → first query that built it (this process). */
  val builds = scala.collection.concurrent.TrieMap[String, String]()

  /** Record a cache build ([[SessionMemo]] calls it on a real miss
    * only). No-op outside an attributed run. */
  def built(cache: String): Unit = {
    val q = currentQuery
    if (q.nonEmpty) builds.putIfAbsent(cache, q)
  }

  /** Escapes quotes, backslashes and control characters for a JSON string body. */
  private[graft] def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def asJson: String =
    builds.toSeq.sortBy(_._1)
      .map { case (c, q) => "\"" + esc(c) + "\":\"" + esc(q) + "\"" }
      .mkString("{", ",", "}")
}
