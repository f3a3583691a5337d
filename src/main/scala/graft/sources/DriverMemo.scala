package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The engine's one session-scoped driver memo — graft's analog of
  * the reference's `st.cache_resource`/`st.cache_data` (app.py:63-102
  * keep the loaded matrices, models and frames resident between
  * interactions). Every driver-side reuse goes through here: resolved
  * and warmed table handles ([[graft.Tables]]), opened index artifacts
  * and their tombstone probes ([[IndexStore]]), collected probe
  * metadata (IVF centroids, RP-tree planes, PQ codebooks), persisted
  * dedup intermediates, decoded joblib models, induced vocabularies
  * and the query-path scratch frames of [[ScratchCache]]. Entries are
  * in-process serving state, rebuilt from the parquet artifacts in
  * every new JVM.
  *
  * Why: a single-query search (the reference's interactive path,
  * app.py:383-414) would otherwise pay one Spark job per metadata
  * collect and one DataSource resolution per table read — measured at
  * sf0.1, ~30-80 ms each, several per call.
  *
  * Rules, applied to every entry:
  *   - KEY AND STAMP. An entry is keyed by (session, logical key) and
  *     carries a content stamp: a fingerprint, an mtime, or `()` when
  *     the key is itself a fingerprint-addressed path. A lookup with a
  *     different stamp REPLACES the entry and releases the old value,
  *     so a rewritten source is never served stale and never
  *     accumulates next to its successor.
  *   - BUILDS RUN OUTSIDE THE LOCK. Lookup is get-then-put; the lock
  *     guards map operations only, never a Spark job, a file parse or
  *     a nested lookup (a vocabulary build opens its lexicon through
  *     this memo). Two racing first lookups may both build: the first
  *     put wins, both callers get its value, the loser's is released.
  *   - PINNED FRAMES. [[pinned]] and scratch entries are frames the
  *     memo persists (MEMORY_AND_DISK) and owns: release unpersists
  *     them, and a hit whose storage an external
  *     `spark.catalog.clearCache()` stripped is re-pinned — otherwise
  *     every consumer would silently run the build subtree uncached,
  *     on every pass. A plain lookup accepts a pinned entry; a pinned
  *     lookup replaces a plain one.
  *   - ONE BOUND. Only [[ScratchCache]]'s plan-keyed frames grow with
  *     traffic (one per distinct hybrid query), so only they count
  *     against `spark.graft.scratch.cache.size` (default 64), evicted
  *     least-recently-used and unpersisted. Every other entry is one
  *     per logical key, so a burst of scratch frames can never evict
  *     a vocabulary or a centroid table.
  *   - CLEANUP. Entries of stopped sessions are swept on every lookup;
  *     [[invalidate]] drops every entry whose key starts with a path
  *     (maintenance ops that rewrite an artifact in place call it
  *     through [[IndexStore.invalidate]]).
  */
object DriverMemo {

  private final class Entry(val stamp: Any, val value: AnyRef,
                            val pinned: Boolean, val scratch: Boolean) {
    def serves(stamp: Any, pin: Boolean): Boolean = this.stamp == stamp && (pinned || !pin)
  }

  // access-ordered: iteration runs least-recently-used first
  private val entries =
    new java.util.LinkedHashMap[(SparkSession, Any), Entry](16, 0.75f, true)

  /** Get-or-build a plain value under (session, key, stamp). */
  def memo[T <: AnyRef](spark: SparkSession, key: Any, stamp: Any = ())(build: => T): T =
    lookup(spark, key, stamp, pin = false, scratch = false)(build).asInstanceOf[T]

  /** Get-or-build a frame the memo persists and owns (see PINNED FRAMES). */
  def pinned(spark: SparkSession, key: Any, stamp: Any = ())(build: => DataFrame): DataFrame =
    lookup(spark, key, stamp, pin = true, scratch = false)(build).asInstanceOf[DataFrame]

  /** A pinned frame that counts against the scratch bound. */
  private[sources] def scratch(spark: SparkSession, key: Any)(build: => DataFrame): DataFrame =
    lookup(spark, key, (), pin = true, scratch = true)(build).asInstanceOf[DataFrame]

  private def lookup(spark: SparkSession, key: Any, stamp: Any, pin: Boolean,
                     scratch: Boolean)(build: => AnyRef): AnyRef = {
    val k = (spark, key)
    val hit = synchronized {
      val dead = entries.keySet.iterator()
      while (dead.hasNext) if (dead.next()._1.sparkContext.isStopped) dead.remove()
      Option(entries.get(k)).filter(_.serves(stamp, pin))
    }
    hit match {
      case Some(e) =>
        if (e.pinned) ensurePersisted(e.value)
        e.value
      case None =>
        val built = build
        if (pin) ensurePersisted(built)
        val mine = new Entry(stamp, built, pin, scratch)
        val (winner, released) = synchronized {
          val cur = entries.get(k)
          if (cur != null && cur.serves(stamp, pin)) (cur, Seq(mine))
          else {
            entries.put(k, mine)
            (mine, Option(cur).toSeq ++ (if (scratch) evictScratch(spark) else Nil))
          }
        }
        released.filter(_.value ne winner.value).foreach(release)
        winner.value
    }
  }

  private def ensurePersisted(value: AnyRef): Unit = value match {
    case df: Dataset[_] if df.storageLevel == StorageLevel.NONE =>
      df.persist(StorageLevel.MEMORY_AND_DISK)
    case _ =>
  }

  private def release(e: Entry): Unit = e.value match {
    case df: Dataset[_] if e.pinned => df.unpersist(blocking = false)
    case _ =>
  }

  /** Under the lock: remove least-recently-used scratch entries past the bound. */
  private def evictScratch(spark: SparkSession): Seq[Entry] = {
    val cap = spark.conf.get("spark.graft.scratch.cache.size", "64").toInt
    var live = scratchSize
    val out = Seq.newBuilder[Entry]
    val it = entries.values.iterator()
    while (live > cap && it.hasNext) {
      val e = it.next()
      if (e.scratch) { it.remove(); out += e; live -= 1 }
    }
    out.result()
  }

  private def remove(matches: ((SparkSession, Any), Entry) => Boolean): Unit = {
    val dropped = synchronized {
      val out = Seq.newBuilder[Entry]
      val it = entries.entrySet.iterator()
      while (it.hasNext) {
        val e = it.next()
        if (matches(e.getKey, e.getValue)) { out += e.getValue; it.remove() }
      }
      out.result()
    }
    dropped.foreach(release)
  }

  /** Drop (and release) every entry of this session whose key is a
    * string starting with `prefix` — an artifact path, or a caller's
    * key namespace such as `table|`.
    */
  def invalidate(spark: SparkSession, prefix: String): Unit = remove {
    case ((s, key: String), _) => (s eq spark) && key.startsWith(prefix)
    case _ => false
  }

  /** Drop and release every entry of every session. */
  def clear(): Unit = remove((_, _) => true)

  private[sources] def clearScratch(): Unit = remove((_, e) => e.scratch)

  /** Number of live entries. */
  def size: Int = synchronized(entries.size())

  private[sources] def scratchSize: Int =
    synchronized(entries.values.stream().filter(_.scratch).count().toInt)
}
