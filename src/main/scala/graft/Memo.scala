package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The one registry of session-lived artifacts. Every session memo is
  * a named [[Memo.Cache]] entry; the name is the bench's warm tag and
  * its prefix the family (`d.` dedup, `s.` similarity, `p.` text
  * analysis, `m.` multimodal, `q.` star queries, `r.` rass, `rp:`
  * ranged projections). Releasing a family or everything, and listing
  * what is warm, are answered here, so no module or harness keeps its
  * own list of caches.
  *
  * Build-once: `TrieMap.getOrElseUpdate` evaluates its thunk OUTSIDE
  * the map's internal CAS, so two threads missing the same key both
  * build, and with builds that `persist()` a DataFrame the losing copy
  * stays pinned in executor storage until session end. The fast path
  * is a lock-free read; a miss double-checks under the entry's monitor,
  * so exactly one build runs per key. Builds for different keys of one
  * entry serialize, which suits ingest artifacts (rare, seconds-long,
  * almost always the same key).
  *
  * Release: only entries whose values are persisted pass [[unpersist]];
  * the rest (stats rows, local relations, counts, models) are dropped,
  * because `unpersist()` on a frame that was never persisted uncaches
  * any cached plan that is `sameResult`-equal to it.
  */
object Memo {

  final class Cache[K, V] private[Memo] (val name: String,
      release: V => Unit, tag: K => String) {
    private val map = TrieMap.empty[K, V]

    def getOrBuild(key: K)(build: => V): V =
      map.get(key) match {
        case Some(v) => v
        case None => synchronized(map.getOrElseUpdate(key, build))
      }

    /** Swap in `value` for `key`, releasing the value it replaces. */
    def replace(key: K, value: V): Unit =
      synchronized(map.put(key, value).foreach(release))

    def invalidate(): Unit = invalidateWhere(_ => true)

    def isWarm: Boolean = map.nonEmpty

    private[Memo] def invalidateWhere(p: String => Boolean): Unit =
      map.keys.filter(k => p(tag(k))).foreach(k => map.remove(k).foreach(release))

    private[Memo] def warmTags: Iterable[String] = map.keys.map(tag)
  }

  private val entries = TrieMap.empty[String, Cache[_, _]]

  /** Register the session cache `name`; its values are dropped on
    * release unless `release` says otherwise.
    */
  def cache[K, V](name: String, release: V => Unit = (_: V) => ()): Cache[K, V] =
    register(new Cache[K, V](name, release, _ => name))

  /** A cache whose keys carry their own warm tag, `name` + `tag(key)`. */
  def tagged[K, V](name: String, release: V => Unit)(tag: K => String): Cache[K, V] =
    register(new Cache[K, V](name, release, k => name + tag(k)))

  /** The common entry: one persisted frame per (session, dir). */
  def frames(name: String): Cache[(SparkSession, String), DataFrame] =
    cache(name, unpersist)

  private def register[K, V](c: Cache[K, V]): Cache[K, V] = {
    require(entries.putIfAbsent(c.name, c).isEmpty,
      s"session artifact ${c.name} is registered twice")
    c
  }

  /** Unpersist a Dataset value, or each Dataset inside a tuple value. */
  def unpersist(value: Any): Unit = value match {
    case d: Dataset[_] => d.unpersist()
    case p: Product => p.productIterator.foreach {
      case d: Dataset[_] => d.unpersist()
      case _ =>
    }
    case _ =>
  }

  /** Release every entry whose warm tag starts with one of `prefixes`
    * (a family such as `d.`, or ranged projections such as `rp:x03:`).
    */
  def invalidate(prefixes: String*): Unit =
    entries.values.foreach(_.invalidateWhere(t => prefixes.exists(t.startsWith)))

  def invalidateAll(): Unit = entries.values.foreach(_.invalidate())

  /** The populated entries' warm tags, sorted: the bench samples them
    * before each timed run, so a reader can tell "this query paid a memo
    * build" from "the box was slow" without re-benching.
    */
  def warmNames: Seq[String] =
    entries.values.flatMap(_.warmTags).toSeq.distinct.sorted
}
