package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.storage.StorageLevel

/** Session-scoped registry for persisted derived relations (index
  * builds, signature tables, verified-pair caches — ADVICE r15).
  *
  * Before this, every query construction called `.persist` on a FRESH
  * plan instance: Spark's CacheManager dedups the underlying storage,
  * but the cache entries accumulate across a long session / test suite
  * until BlockManager eviction, and nothing short of session stop could
  * release them. [[cached]] memoizes by (session, canonicalized plan):
  * repeated constructions return the FIRST persisted instance — so
  * CacheManager reuse always hits the same entry — and [[release]]
  * gives rounds and suites an explicit teardown (called by
  * [[Memo.release]]). Hash buckets are verified with
  * `sameResult` before reuse, so a semanticHash collision can never
  * hand back a different relation; schemas are compared by field NAMES
  * too (canonicalization erases aliases, and a wrongly-aliased reuse
  * would break downstream resolution). */
object Persists {

  private val reg = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, Int), List[(LogicalPlan, String, DataFrame)]]

  /** Persist `df` at MEMORY_AND_DISK, or return the already-persisted
    * DataFrame of a semantically identical plan from this session. */
  def cached(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val canon = df.queryExecution.logical.canonicalized
    val schema = df.schema.fieldNames.mkString(",")
    val key = (s, canon.semanticHash())
    // synchronized like Memo.relation: persist is lazy metadata
    // work (no job runs inside) and exactly one persist per plan wins
    reg.synchronized {
      if (reg.size > 512) {
        val stopped = reg.keys.filter(_._1.sparkContext.isStopped).toSeq
        stopped.foreach(k => reg.remove(k).foreach(_.foreach { case (_, _, d) =>
          try d.unpersist(blocking = false) catch { case _: Throwable => () }
        }))
        // Never purge the CURRENT session's live entries here (ADVICE
        // r16): a global purge would strand callers holding
        // previously-returned instances on unpersisted plans while new
        // constructions persist fresh ones — the memo identity guarantee
        // (same entry ⇒ CacheManager reuse) silently degrading. Evict
        // other sessions' entries instead; if this one session alone
        // holds >512 relations, keep them — persist is a cache and the
        // guarantee is worth more than the bound.
        if (reg.size > 512) {
          reg.keys.filter(_._1 ne s).toSeq.foreach(k =>
            reg.remove(k).foreach(_.foreach { case (_, _, d) =>
              try d.unpersist(blocking = false) catch { case _: Throwable => () }
            }))
        }
      }
      val bucket = reg.getOrElse(key, Nil)
      bucket.find { case (p, sch, _) => sch == schema && p.sameResult(canon) } match {
        case Some((_, _, hit)) => leafed(hit)
        case None =>
          df.persist(StorageLevel.MEMORY_AND_DISK)
          reg.update(key, (canon, schema, df) :: bucket)
          leafed(df)
      }
    }
  }

  /** Plan truncation over the cache that already exists (r22, guide
    * §7.3 planning time / §3.3 "materialising an intermediate truncates
    * the plan"): consumers of a memoized relation embed its FULL
    * analyzed tree (pipe_e2e_shuffle's dump carried 264 Exchange lines,
    * almost all inside the stored cached child) and re-pay analysis +
    * cache canonicalization + optimizer passes over it per invocation.
    * [[graft.expressions.CacheBridge]] re-roots the frame at the cache
    * entry's InMemoryRelation — the exact leaf `useCachedData` would
    * substitute during `withCachedData` anyway — so consumer logical
    * plans hold ONE leaf and physical plans are bit-identical to the
    * substituted full-tree spelling. */
  private def leafed(df: DataFrame): DataFrame =
    org.apache.spark.sql.graftexpr.CacheBridge.asCachedLeaf(df)

  /** Unpersist and forget everything one session registered. */
  def release(s: SparkSession): Unit = reg.synchronized {
    reg.keys.filter(_._1 == s).toSeq.foreach(k =>
      reg.remove(k).foreach(_.foreach { case (_, _, d) =>
        try d.unpersist(blocking = true) catch { case _: Throwable => () }
      }))
  }

  /** Registered entry count (spec introspection). */
  private[graft] def size: Int = reg.values.map(_.size).sum

  /** Chain-position sugar: `relation.cachedPersist()` ==
    * `Persists.cached(relation)`. */
  implicit final class PersistOps(private val df: DataFrame) extends AnyVal {
    def cachedPersist(): DataFrame = Persists.cached(df)
  }
}
