package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Persists

/** The persisted-relation registry (ADVICE r15): instance reuse across
  * equivalent constructions, alias-safety, and explicit teardown. */
class PersistsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private def rel() = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "s")
    .groupBy("s").agg(count(lit(1)).as("n"))

  /** The cache entry a leafed frame is re-rooted at. */
  private def leafOf(df: DataFrame) = df.queryExecution.analyzed match {
    case imr: InMemoryRelation => imr.cacheBuilder
    case other => fail(s"expected a bare InMemoryRelation leaf, got:\n$other")
  }

  test("equivalent plans reuse the FIRST persisted instance") {
    // storageLevel is a cache lookup by PLAN: meaningful on the INPUT
    // frame the registry persisted, not on the leafed frame it returns
    val before = Persists.size
    val first = rel()
    val la = Persists.cached(first)
    val lb = Persists.cached(rel())
    assert(Persists.size == before + 1,
      "a fresh but semantically identical plan must reuse the registered instance")
    assert(first.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(leafOf(la) eq leafOf(lb),
      "leafed constructions must share ONE cache entry")
    assert(la.collect().length == 2)
  }

  test("a differently-aliased twin is NOT reused (canonicalization erases names)") {
    val a = Persists.cached(rel())
    val renamed = Persists.cached(rel().withColumnsRenamed(Map("n" -> "cnt")))
    assert(!(a eq renamed), "schema names differ - reuse would break resolution")
    assert(renamed.columns.toSeq == Seq("s", "cnt"))
  }

  test("release(session) unpersists and the next call re-registers") {
    def key() = Seq((9L, "z")).toDF("id", "s").groupBy("id").agg(max("s").as("m"))
    val input = key()
    val a = Persists.cached(input)
    assert(input.storageLevel == StorageLevel.MEMORY_AND_DISK)
    Persists.release(spark)
    assert(input.storageLevel == StorageLevel.NONE, "release must unpersist")
    val again = key()
    val b = Persists.cached(again)
    assert(!(leafOf(a) eq leafOf(b)) && again.storageLevel == StorageLevel.MEMORY_AND_DISK)
    Persists.release(spark)
  }
}
