package graft.operators

import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.sources.Tables

/** The one registry of memoized derived artifacts: persisted chunk and
  * corpus relations, trained models, collected sufficient statistics.
  * The batch analog of the reference keeping chunk refs resident while a
  * window can still use them (doreisa/window_api.py:107-119), managed in
  * one place as Shark's per-session cache manager is, not per operator.
  *
  * Every entry obeys one contract:
  *  - key: `(dir, kind)`, `kind` a module-prefixed name (`arr.2d`,
  *    `arr.gram`, `txt.bpe`, `sim.centroids/8/3`); an entry whose value
  *    holds a DataFrame is also keyed by its SparkSession, a driver-side
  *    value (model, Gram, literal table) is session-independent;
  *  - freshness: the entry carries [[Tables.fingerprint]] of the one
  *    table it derives from and is served only while that still matches;
  *    a mismatch unpersists the old relation, refreshes every cached
  *    plan over the table's path (the [[Persists]] relations a rebuild
  *    reads would otherwise still match the old plan and serve the old
  *    blocks) and rebuilds. A `None` fingerprint computes fresh and
  *    never memoizes or persists;
  *  - bound: at most [[Cap]] entries. An insert first evicts entries of
  *    stopped sessions, then least recently used ones, never the key it
  *    serves; evicted relations are unpersisted without blocking;
  *  - release: [[release]] forgets everything one session holds.
  *
  * Relations ([[relation]], [[relationOf]]) are built and persisted
  * under the lock: the build is lazy plan work and exactly one persist
  * per key may win. Fits ([[artifact]], [[sessionArtifact]]) run jobs,
  * so they run outside it; a lost first-call race fits twice and leaks
  * nothing. The one lock serves every module, and a build holds it for
  * its plan construction and file listings: callers that issue queries
  * one at a time per JVM (Verify, Bench, the specs) never wait on it.
  *
  * The registry's access order doubles as the oracle fallback: the
  * generated oracles embed the trained literals of the dir pinned by
  * [[setOracleDir]], else of the most recently used fit of that kind. */
object Memo {

  /** The one eviction bound. 32 kinds exist per dir today (14 arr, 6 txt,
    * 6 sim, 4 connected-component families, 2 pipe), so every kind for
    * three dirs fits: Verify plus a spec, or FunctionsSpec training two
    * dirs in one JVM, never evicts. */
  private[graft] val Cap = 96

  /** `session` is null for session-independent values. `persisted` is the
    * relation this registry persisted itself, else null. */
  private final case class Key(session: SparkSession, dir: String, kind: String)
  private final case class Entry(fp: String, value: Any, persisted: DataFrame)

  // access order: iteration runs least recently used first
  private val entries = new java.util.LinkedHashMap[Key, Entry](128, 0.75f, true)
  private val oracleDir = new AtomicReference[String](null)

  /** The persisted relation `build` yields for `(s, dir, kind)`, derived
    * from `table`. */
  def relation(s: SparkSession, dir: String, kind: String, table: String)(
      build: => DataFrame): DataFrame =
    relationOf(s, dir, kind, table)(build)(identity)

  /** A value holding one relation, `rel` of it, memoized and persisted
    * like [[relation]] (a chunked array with its geometry, say). */
  def relationOf[T](s: SparkSession, dir: String, kind: String, table: String)(
      build: => T)(rel: T => DataFrame): T =
    Tables.fingerprint(s, dir, table) match {
      case None => build
      case Some(fp) =>
        val key = Key(s, dir, kind)
        entries.synchronized {
          served[T](key, s, table, fp).getOrElse {
            val v = build
            val df = rel(v).persist(StorageLevel.MEMORY_AND_DISK)
            insert(key, Entry(fp, v, df))
            v
          }
        }
    }

  /** A driver-side value fitted from `table` of `dir`, shared by every
    * session. */
  def artifact[T](s: SparkSession, dir: String, kind: String, table: String)(fit: => T): T =
    fitted(Key(null, dir, kind), s, table)(fit)

  /** A fitted value that holds DataFrames of session `s` (which this
    * registry does not persist itself). */
  def sessionArtifact[T](s: SparkSession, dir: String, kind: String, table: String)(
      fit: => T): T =
    fitted(Key(s, dir, kind), s, table)(fit)

  private def fitted[T](key: Key, s: SparkSession, table: String)(fit: => T): T =
    Tables.fingerprint(s, key.dir, table) match {
      case None => fit
      case Some(fp) =>
        entries.synchronized(served[T](key, s, table, fp)).getOrElse {
          val v = fit
          entries.synchronized(insert(key, Entry(fp, v, null)))
          v
        }
    }

  /** The live value of `key` at fingerprint `fp` of `table`; a stale
    * entry is dropped here, and every cached plan over the rewritten
    * table is re-listed and recached before the caller rebuilds. Callers
    * hold the lock. */
  private def served[T](key: Key, s: SparkSession, table: String, fp: String): Option[T] =
    Option(entries.get(key)) match {
      case Some(e) if e.fp == fp => Some(e.value.asInstanceOf[T])
      case Some(e) =>
        entries.remove(key)
        unpersist(e, blocking = false)
        s.catalog.refreshByPath(Tables.path(key.dir, table))
        None
      case None => None
    }

  private def insert(key: Key, e: Entry): Unit = {
    val it = entries.entrySet.iterator
    while (it.hasNext) {
      val old = it.next()
      val s = old.getKey.session
      if (s != null && s.sparkContext.isStopped) { it.remove(); unpersist(old.getValue, blocking = false) }
    }
    val lru = entries.entrySet.iterator
    while (entries.size >= Cap && lru.hasNext) {
      val old = lru.next()
      if (old.getKey != key) { lru.remove(); unpersist(old.getValue, blocking = false) }
    }
    entries.put(key, e): Unit
  }

  // unpersist against a stopped context can throw; the entry goes regardless
  private def unpersist(e: Entry, blocking: Boolean): Unit =
    if (e.persisted != null)
      try e.persisted.unpersist(blocking) catch { case scala.util.control.NonFatal(_) => () }

  /** Release memoized relations — the batch analog of the reference's
    * memory-release-after-window-expiry contract
    * (tests/test_memory_release.py: chunks are freed once no window can
    * reference them). Unpersists everything session `s` holds (blocking,
    * so the executors have dropped the blocks on return), forgets those
    * entries and releases the session's [[Persists]] registry, whose
    * derived relations (the Gram relation over the 2-d chunks, say)
    * would otherwise hand back stale blocks to a re-canonicalized plan.
    * The next request rebuilds from source. Session-independent
    * artifacts survive: their fingerprint already guards them. */
  def release(s: SparkSession): Unit = {
    entries.synchronized {
      val it = entries.entrySet.iterator
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey.session eq s) { it.remove(); unpersist(e.getValue, blocking = true) }
      }
    }
    Persists.release(s)
  }

  /** Pin the dir whose fits the generated oracles embed (Verify pins its
    * data dir before dumping oracle_sql.json); `null` unpins. */
  def setOracleDir(dir: String): Unit = oracleDir.set(dir)

  /** The session-independent value of `kind` the oracles embed: the
    * pinned dir's entry, else the most recently used one. */
  private[graft] def oracle[T](kind: String): Option[T] = entries.synchronized {
    val pin = oracleDir.get
    entries.asScala.toSeq.reverseIterator
      .collectFirst { case (k, e) if k.session == null && k.kind == kind &&
        (pin == null || k.dir == pin) => e.value.asInstanceOf[T] }
  }

  /** Entry count (spec introspection). */
  private[graft] def size: Int = entries.synchronized(entries.size)

  /** Whether `(s, dir, kind)` is memoized; `s` null for a session-independent
    * kind (spec introspection). */
  private[graft] def holds(s: SparkSession, dir: String, kind: String): Boolean =
    entries.synchronized(entries.containsKey(Key(s, dir, kind)))
}
