package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Memo

/** The memo registry's contract: fingerprint-checked hits and refits,
  * no memo without a fingerprint, an LRU bound that spares the served
  * key, session release, the oracle-dir pin and one persist per key. */
class MemoSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** A fresh dir holding a one-file table `t`; `rewrite` changes its size
    * (and so its fingerprint). */
  private final class Dir {
    val path: String = Files.createTempDirectory("graft_memo").toString
    private val file = Paths.get(path, "t.parquet")
    Files.writeString(file, "a")
    def rewrite(): Unit = Files.writeString(file, "a" * (Files.size(file).toInt + 1)): Unit
  }

  private def counted[T](n: AtomicInteger)(v: => T): T = { n.incrementAndGet(); v }

  test("a hit on the same fingerprint serves the memoized value") {
    val d = new Dir
    val fits, builds = new AtomicInteger
    val a1 = Memo.artifact(spark, d.path, "spec.model", "t")(counted(fits)(Seq(1.0)))
    val a2 = Memo.artifact(spark, d.path, "spec.model", "t")(counted(fits)(Seq(2.0)))
    assert(fits.get == 1 && (a2 eq a1))
    val r1 = Memo.relation(spark, d.path, "spec.rel", "t")(counted(builds)(spark.range(3).toDF()))
    val r2 = Memo.relation(spark, d.path, "spec.rel", "t")(counted(builds)(spark.range(4).toDF()))
    assert(builds.get == 1 && (r2 eq r1))
    assert(r1.storageLevel == StorageLevel.MEMORY_AND_DISK)
    Memo.release(spark)
  }

  test("a changed fingerprint refits and unpersists the old relation") {
    val d = new Dir
    val fits, builds = new AtomicInteger
    // each build is a different plan, so storageLevel (a cache lookup by
    // plan) tells the two relations apart
    def rel(): DataFrame = Memo.relation(spark, d.path, "spec.rel", "t")(
      counted(builds)(spark.range(10 + builds.get).toDF()))
    def model(): Int = Memo.artifact(spark, d.path, "spec.model", "t")(counted(fits)(fits.get))
    val old = rel()
    assert(model() == 1)
    old.count()
    assert(old.storageLevel == StorageLevel.MEMORY_AND_DISK)
    d.rewrite()
    val fresh = rel()
    assert(builds.get == 2 && !(fresh eq old))
    assert(old.storageLevel == StorageLevel.NONE, "the stale relation must be unpersisted")
    assert(fresh.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(model() == 2 && fits.get == 2)
    assert(model() == 2 && fits.get == 2)
    Memo.release(spark)
  }

  test("a None fingerprint never memoizes or persists") {
    val missing = Files.createTempDirectory("graft_memo").toString // holds no table
    val before = Memo.size
    val fits, builds = new AtomicInteger
    val r = Memo.relation(spark, missing, "spec.rel", "t")(counted(builds)(spark.range(5).toDF()))
    Memo.relation(spark, missing, "spec.rel", "t")(counted(builds)(spark.range(5).toDF()))
    Memo.artifact(spark, missing, "spec.model", "t")(counted(fits)(0))
    Memo.artifact(spark, missing, "spec.model", "t")(counted(fits)(0))
    assert(builds.get == 2 && fits.get == 2)
    assert(r.storageLevel == StorageLevel.NONE)
    assert(Memo.size == before)
    assert(!Memo.holds(spark, missing, "spec.rel") && !Memo.holds(null, missing, "spec.model"))
  }

  test("the LRU bound never evicts the key being served") {
    val d = new Dir
    def fill(kinds: Seq[String]): Unit =
      kinds.foreach(k => Memo.artifact(spark, d.path, k, "t")(k))
    // the newest Cap entries fill the registry
    fill("spec.first" +: (0 until Memo.Cap - 1).map(i => s"spec.fill/$i"))
    assert(Memo.size == Memo.Cap && Memo.holds(null, d.path, "spec.first"))
    // a hit makes "first" the most recently used, so the overflow evicts
    // the least recently used entry instead
    Memo.artifact(spark, d.path, "spec.first", "t")("unused")
    fill(Seq("spec.over"))
    assert(Memo.size == Memo.Cap)
    assert(Memo.holds(null, d.path, "spec.first") && Memo.holds(null, d.path, "spec.over"))
    assert(!Memo.holds(null, d.path, "spec.fill/0"))
    // a fit that itself overflows the registry still holds its own key
    val v = Memo.artifact(spark, d.path, "spec.served", "t") {
      fill((0 until 2 * Memo.Cap).map(i => s"spec.nested/$i"))
      "served"
    }
    assert(v == "served" && Memo.holds(null, d.path, "spec.served"))
    assert(Memo.size <= Memo.Cap)
    // the same for a relation whose build overflows the registry
    val r = Memo.relation(spark, d.path, "spec.rel", "t") {
      fill((0 until 2 * Memo.Cap).map(i => s"spec.nested2/$i"))
      spark.range(7).toDF()
    }
    assert(Memo.holds(spark, d.path, "spec.rel") && r.storageLevel == StorageLevel.MEMORY_AND_DISK)
    Memo.release(spark)
  }

  test("release(s) unpersists relations and keeps artifacts") {
    val d = new Dir
    val r = Memo.relation(spark, d.path, "spec.rel", "t")(spark.range(11).toDF())
    Memo.artifact(spark, d.path, "spec.model", "t")(42)
    r.count()
    assert(r.storageLevel == StorageLevel.MEMORY_AND_DISK)
    Memo.release(spark)
    assert(r.storageLevel == StorageLevel.NONE)
    assert(!Memo.holds(spark, d.path, "spec.rel"))
    assert(Memo.holds(null, d.path, "spec.model"))
    assert(Memo.artifact(spark, d.path, "spec.model", "t")(-1) == 42)
  }

  test("the oracle lookup uses the pinned dir, else the latest fitted dir") {
    val a, b = new Dir
    try {
      Memo.setOracleDir(null)
      Memo.artifact(spark, a.path, "spec.oracle", "t")("A")
      Memo.artifact(spark, b.path, "spec.oracle", "t")("B")
      assert(Memo.oracle[String]("spec.oracle").contains("B"))
      Memo.setOracleDir(a.path)
      assert(Memo.oracle[String]("spec.oracle").contains("A"))
      Memo.setOracleDir(b.path)
      assert(Memo.oracle[String]("spec.oracle").contains("B"))
      // a served hit counts as use: ad-hoc oracles follow the last dir run
      Memo.setOracleDir(null)
      Memo.artifact(spark, a.path, "spec.oracle", "t")("unused")
      assert(Memo.oracle[String]("spec.oracle").contains("A"))
      // a pinned dir with no fit yields no oracle, never another dir's
      Memo.setOracleDir(new Dir().path)
      assert(Memo.oracle[String]("spec.oracle").isEmpty)
    } finally Memo.setOracleDir(null)
  }

  test("two concurrent first calls for one relation persist it once") {
    val d = new Dir
    val builds = new AtomicInteger
    val start = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]
    val threads = (0 until 2).map { _ =>
      new Thread(() => {
        start.await()
        results.add(Memo.relation(spark, d.path, "spec.race", "t") {
          builds.incrementAndGet()
          Thread.sleep(200) // hold the build open across the other call
          spark.range(13).toDF()
        }): Unit
      })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join())
    assert(builds.get == 1)
    val Seq(x, y) = results.toArray(Array.empty[DataFrame]).toSeq
    assert(x eq y)
    Memo.release(spark)
  }
}
