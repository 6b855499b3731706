package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one registry of session-lived artifacts, and the only code that
  * persists or unpersists a frame. Every session memo is a named
  * [[Memo.Cache]] entry; the name is the bench's warm tag and its
  * prefix the family (`d.` dedup, `s.` similarity, `p.` text analysis,
  * `m.` multimodal, `q.` star queries, `r.` rass, `rp:` ranged
  * projections). Releasing a family or everything, and listing what is
  * warm, are answered here, so no module or harness keeps its own list
  * of caches.
  *
  * Build-once: `TrieMap.getOrElseUpdate` evaluates its thunk OUTSIDE
  * the map's internal CAS, so two threads missing the same key both
  * build, and with builds that pin a frame the losing copy stays cached
  * until session end. The fast path is a lock-free read; a miss
  * double-checks under the entry's monitor, so exactly one build runs
  * per key. Builds for different keys of one entry serialize, which
  * suits ingest artifacts (rare, seconds-long, almost always the same
  * key).
  *
  * Pins: a build ([[Cache.getOrBuild]], [[Cache.rebuild]]) or a scope
  * ([[scoped]]) caches a frame only through the [[Pins]] handle it is
  * given, and owns what it pinned:
  *   - every frame is cached at `MEMORY_AND_DISK`;
  *   - a build or scope that throws releases everything it pinned;
  *   - when a build returns, the frames it pinned that its value does
  *     not hold (the value is a Dataset or a tuple of them, compared by
  *     reference) are released; the rest belong to the key;
  *   - a scope releases everything it pinned when it ends;
  *   - invalidating or rebuilding a key releases its frames, and a
  *     rebuild does so BEFORE it pins the new value, so a new plan equal
  *     to the old one (a re-read snapshot of the same path) is cached
  *     and owned anew instead of being dropped with the old one;
  *   - pinning a frame whose plan is already cached takes no ownership,
  *     so an owner never uncaches a plan some other owner cached.
  */
object Memo {

  private val Level = StorageLevel.MEMORY_AND_DISK

  /** The frames one build or scope has pinned, and so owns. */
  final class Pins private[Memo] {
    private var owned = List.empty[Dataset[_]]

    /** Cache `ds` for this owner and return it. A frame whose plan is
      * already cached is returned as is, and stays its owner's.
      */
    def apply[T](ds: Dataset[T]): Dataset[T] = PinLock.synchronized {
      if (ds.storageLevel == StorageLevel.NONE) {
        ds.persist(Level)
        owned ::= ds
      }
      ds
    }

    /** Release `ds` before the owner ends, if this owner pinned it
      * (a loop retiring its previous round).
      */
    def release(ds: Dataset[_]): Unit = releaseWhere(_ eq ds)

    private[Memo] def releaseWhere(p: Dataset[_] => Boolean): Unit =
      PinLock.synchronized {
        val (gone, kept) = owned.partition(p)
        gone.foreach(_.unpersist())
        owned = kept
      }

    private[Memo] def releaseAll(): Unit = releaseWhere(_ => true)
  }

  /** Makes "is this plan cached?" and the persist one step across owners. */
  private object PinLock

  /** Run `build` with fresh pins; keep only the frames its value holds. */
  private def pinned[V](build: Pins => V): (V, Pins) = {
    val pins = new Pins
    val value = try build(pins) catch {
      case t: Throwable => pins.releaseAll(); throw t
    }
    val held: Seq[Dataset[_]] = value match {
      case d: Dataset[_] => Seq(d)
      case p: Product => p.productIterator.collect { case d: Dataset[_] => d }.toSeq
      case _ => Nil
    }
    pins.releaseWhere(d => !held.exists(_ eq d))
    (value, pins)
  }

  /** Run `body` with pins that are all released when it returns or
    * throws: caching that lasts only while a loop or commit runs.
    */
  def scoped[T](body: Pins => T): T = {
    val pins = new Pins
    try body(pins) finally pins.releaseAll()
  }

  final class Cache[K, V] private[Memo] (val name: String, tag: K => String) {
    private val map = TrieMap.empty[K, (V, Pins)]

    def getOrBuild(key: K)(build: Pins => V): V =
      map.get(key) match {
        case Some((v, _)) => v
        case None => synchronized(map.getOrElseUpdate(key, pinned(build))._1)
      }

    /** Build `key` anew, releasing its old frames first. */
    def rebuild(key: K)(build: Pins => V): V = synchronized {
      map.remove(key).foreach(_._2.releaseAll())
      val entry = pinned(build)
      map.put(key, entry)
      entry._1
    }

    def invalidate(): Unit = invalidateWhere(_ => true)

    def isWarm: Boolean = map.nonEmpty

    private[Memo] def invalidateWhere(p: String => Boolean): Unit =
      map.keys.filter(k => p(tag(k)))
        .foreach(k => map.remove(k).foreach(_._2.releaseAll()))

    private[Memo] def warmTags: Iterable[String] = map.keys.map(tag)
  }

  private val entries = TrieMap.empty[String, Cache[_, _]]

  /** Register the session cache `name`. */
  def cache[K, V](name: String): Cache[K, V] =
    register(new Cache[K, V](name, _ => name))

  /** A cache whose keys carry their own warm tag, `name` + `tag(key)`. */
  def tagged[K, V](name: String)(tag: K => String): Cache[K, V] =
    register(new Cache[K, V](name, k => name + tag(k)))

  /** The common entry: one pinned frame per (session, dir). */
  def frames(name: String): Cache[(SparkSession, String), DataFrame] =
    cache(name)

  private def register[K, V](c: Cache[K, V]): Cache[K, V] = {
    require(entries.putIfAbsent(c.name, c).isEmpty,
      s"session artifact ${c.name} is registered twice")
    c
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
