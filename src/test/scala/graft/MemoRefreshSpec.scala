package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ArrayQueries, Memo, Similarity, TextAnalysis}
import graft.sources.Tables

/** Memoized relations and trained models are never served stale: after
  * a table is rewritten in place (and the frame cache cleared, but no
  * memo released), every face and every trained-literal oracle equals a
  * run on a fresh dir that only ever held the new data. */
class MemoRefreshSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark

  /** The committed copy of the sf0.001 test tables. */
  private val src = "perfbench/data/sf0.001"
  /** The refreshed subset of each table. */
  private val subsets = Map(
    "events" -> "event_id % 3 <> 0",
    // the IVF probes are vec_id < 5
    "embeddings" -> "vec_id < 5 OR vec_id % 4 <> 0",
    "documents" -> "doc_id % 3 <> 0")

  private val tmp = Files.createTempDirectory("graft_refresh")
  private val refreshed = Files.createDirectory(tmp.resolve("refreshed")).toString
  private val fresh = Files.createDirectory(tmp.resolve("fresh")).toString

  override def beforeAll(): Unit = subsets.keys.foreach(t =>
    Files.copy(Paths.get(src, s"$t.parquet"), Paths.get(refreshed, s"$t.parquet")))

  override def afterAll(): Unit =
    try Memo.release(spark)
    finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)

  /** Write `table`'s subset as a one-file table into each of `dirs`. */
  private def writeSubset(table: String, dirs: String*): Unit = {
    val out = tmp.resolve(s"subset_$table").toString
    spark.read.parquet(s"$src/$table.parquet").where(subsets(table))
      .coalesce(1).write.parquet(out)
    val part: Path = Files.list(Paths.get(out)).filter(_.toString.endsWith(".parquet"))
      .findFirst().get
    dirs.foreach(d => Files.copy(part, Paths.get(d, s"$table.parquet"),
      StandardCopyOption.REPLACE_EXISTING))
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Run `faces` on the refreshed dir before and after the rewrite of
    * `table`, and on the fresh dir; compare results and the oracles. */
  private def check(table: String, faces: Seq[String], oracleNames: Seq[String],
      oracles: => Map[String, String]): Unit = {
    def run(dir: String) = faces.map(f => f -> rows(SparkEntry.queries(f)(spark, dir))).toMap
    val before = run(refreshed)
    writeSubset(table, refreshed, fresh)
    Tables.clearCache()
    val after = run(refreshed)
    val expected = run(fresh)
    faces.foreach { f =>
      assert(expected(f) != before(f), s"$f: the subset must change the result")
      assert(after(f) == expected(f), s"$f served stale data after the in-place refresh")
    }
    def pinned(dir: String) =
      try { Memo.setOracleDir(dir); oracleNames.map(n => n -> oracles(n)).toMap }
      finally Memo.setOracleDir(null)
    assert(pinned(refreshed) == pinned(fresh), "the oracle literals embed a stale fit")
  }

  test("arr_* faces and oracles follow an in-place refresh of events") {
    check("events", Seq("arr_svd_vals", "arr_lstsq"), Seq("arr_svd_vals", "arr_lstsq"),
      ArrayQueries.oracles)
  }

  test("txt_bpe_* and txt_sp_unigram faces and oracles follow an in-place refresh of documents") {
    check("documents", Seq("txt_bpe_vocab", "txt_bpe_freq", "txt_sp_unigram"),
      Seq("txt_bpe_encode", "txt_bpe_freq", "txt_sp_unigram"), TextAnalysis.oracles)
  }

  // emb_pca_var's fit reads the Persists-cached Gram relation over the
  // same path, which only a path refresh on the fingerprint change evicts
  test("sim_ivf_trained, emb_pca_var and their oracles follow an in-place refresh of embeddings") {
    check("embeddings", Seq("sim_ivf_trained", "emb_pca_var"),
      Seq("sim_ivf_trained", "emb_pca_var"), Similarity.oracles)
  }
}
