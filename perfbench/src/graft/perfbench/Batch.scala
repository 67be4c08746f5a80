package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.VectorMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.{ScaleProbe, SparkEntry}
import graft.operators.ArrayQueries
import graft.sources.Tables

/** The two warm batch sweeps. Each timed execution builds the query
  * (`SparkEntry.queries(name)(spark, dir)`) and executes it through
  * [[HashSink]], whose digest is compared with the recorded expected
  * digest of that query. */
object Batch {
  /** Every sixth `arr_*` query in name order: a fixed sample across the
    * array faces, small enough that a cold pass plus the timed window fit
    * one run. */
  val ArraysStride = 6
  def arraysQueries: Seq[String] =
    SparkEntry.queries.keys.filter(_.startsWith("arr_")).toSeq.sorted
      .zipWithIndex.collect { case (q, i) if i % ArraysStride == 0 => q }

  /** The non-array family heads of the scale probe, so the two
    * instruments measure the same queries. */
  def corpusQueries: Seq[String] =
    ScaleProbe.DefaultQueries.map(_._1).filterNot(_.startsWith("arr"))

  val SetupReps = 3
  /** Untimed passes before the window: the first is cold (code generation,
    * persists, models); the second lets the JIT compile the planner's hot
    * paths. More passes left pass time falling for four more passes but
    * did not narrow the run-to-run spread, which the host's own speed
    * swings dominate; that time is better spent in the window. */
  val WarmupPasses = 2

  private def expectedPath(o: Opts) = o.expected.getOrElse(s"${o.home}/expected/${o.sf}.tsv")

  /** name -> expected digest, from `name<TAB>rows<TAB>hash-hex` lines. */
  def loadExpected(path: String): Map[String, Digest] =
    Files.readAllLines(Paths.get(path)).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, rows, h) = l.split("\t")
        n -> Digest(rows.toLong, java.lang.Long.parseUnsignedLong(h, 16))
      }.toMap

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Execute one query through the digesting sink; the digest or an error. */
  private def execute(ctx: Ctx, name: String, trace: String, root: Long): Either[String, Digest] = {
    val sc = ctx.spark.sparkContext
    sc.setJobGroup(trace, name, interruptOnCancel = false)
    try {
      val df = ctx.tracer.time(trace, "operators.build", root) { _ =>
        SparkEntry.queries(name)(ctx.spark, ctx.opts.dataDir)
      }
      ctx.tracer.time(trace, "operators.exec", root) { _ =>
        df.write.format(HashSink.Format).option("token", trace).mode("overwrite").save()
      }
      HashSink.take(trace).toRight("sink returned no digest")
    } catch {
      case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    } finally sc.clearJobGroup()
  }

  /** `tables` are the tables the workload's queries read (the array
    * queries read only `events`). */
  def run(ctx: Ctx, queries: Seq[String], tables: Seq[String], memos: Boolean): Outcome = {
    val spark = ctx.spark
    val dir = ctx.opts.dataDir
    val tr = ctx.tracer
    val expected = loadExpected(expectedPath(ctx.opts))
    val failures = Vector.newBuilder[String]
    var attempted = 0L
    var execN = 0L

    /** One timed, checked execution; returns its wall milliseconds. */
    def once(q: String): Double = {
      execN += 1
      attempted += 1
      val trace = s"q:$q#$execN"
      val root = tr.newId()
      tr.roots.put(trace, root)
      val s = System.nanoTime()
      val res = execute(ctx, q, trace, root)
      val e = System.nanoTime()
      tr.add(trace, "query", 0L, s, e, Map("query" -> q), id = root)
      val bad = res match {
        case Left(err) => Some(err)
        case Right(d) => expected.get(q) match {
          case None => Some("no expected digest recorded")
          case Some(x) if x != d => Some(s"digest ${d.rows} rows/${d.hex} != expected ${x.rows}/${x.hex}")
          case _ => None
        }
      }
      bad.foreach(b => failures += s"query $q (execution $execN): $b")
      (e - s) / 1e6
    }

    // Set-up, repeated: drop the session's memoized relations and table
    // frames, then load the tables and build the array memos again.
    val loadMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val reps = (1 to SetupReps).map { rep =>
      val s = System.nanoTime()
      tr.time("setup", "setup.rep") { id =>
        ArrayQueries.release(spark)
        Tables.clearCache()
        val l0 = System.nanoTime()
        tables.foreach(n => tr.time("setup", "sources.load", id) { _ =>
          noop(Tables.load(spark, dir, n))
        })
        loadMs += (System.nanoTime() - l0) / 1e6
        if (memos) tr.time("setup", "cache.build", id) { _ =>
          noop(ArrayQueries.eventsArray1dCached(spark, dir).df)
          noop(ArrayQueries.eventsArray2dCached(spark, dir).df)
          noop(ArrayQueries.eventsArray3dCached(spark, dir).df)
        }
      }
      (System.nanoTime() - s) / 1e9
    }
    // Warm-up passes: the first (cold) one compiles the plans' generated
    // code and builds the persists and trained models the queries memoize.
    val w0 = System.nanoTime()
    var passNs = 0L
    (1 to WarmupPasses).foreach { _ =>
      val p0 = System.nanoTime()
      tr.time("setup", "warmup.pass") { _ => queries.foreach(once) }
      passNs = System.nanoTime() - p0
    }
    val warmupS = (System.nanoTime() - w0) / 1e9

    // Timed: whole passes, each in a seed-permuted order, so every query is
    // measured equally often; a pass starts only if a pass as long as the
    // last one still ends inside `seconds`.
    val rng = new scala.util.Random(ctx.opts.seed)
    val lat = Vector.newBuilder[(String, Double)]
    val lo = System.nanoTime()
    val deadline = lo + ctx.opts.seconds * 1000000000L
    val passS = Vector.newBuilder[Double]
    var passes = 0
    while (passes == 0 || System.nanoTime() + passNs <= deadline) {
      val p0 = System.nanoTime()
      rng.shuffle(queries).foreach(q => lat += q -> once(q))
      passNs = System.nanoTime() - p0
      passS += passNs / 1e9
      passes += 1
    }
    val hi = System.nanoTime()
    val ops = passes.toLong * queries.size
    val cacheMb = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / Probe.MB
    // percentiles over each query's median execution: one slow execution
    // (a neighbour's burst, a GC) does not move its query's figure
    val execMs = lat.result()
    val latMs = execMs.groupBy(_._1).values.map(v => Stats.median(v.map(_._2))).toVector
    val setupS = ctx.sessionS + Stats.median(reps) + warmupS
    val fails = failures.result()
    val spans = tr.spans.filter(s => s.start >= lo && s.end <= hi)
    def spanMs(n: String) = spans.filter(_.name == n).map(_.ms).sum
    Outcome(
      attempted = attempted,
      failures = fails,
      ops = ops,
      window = (lo, hi),
      latMs = latMs,
      setupS = setupS,
      memoryMb = cacheMb,
      named = VectorMap(
        "queries" -> queries.size, "passes" -> passes, "pass_s" -> passS.result(),
        "queries_per_s" -> ops / ((hi - lo) / 1e9),
        "query_p50_s" -> Stats.pct(latMs, 0.5) / 1000.0,
        "query_p90_s" -> Stats.pct(latMs, 0.9) / 1000.0,
        "query_samples" -> latMs.size, "executions" -> execMs.size,
        "setup_s" -> setupS, "setup_reps_s" -> reps, "warmup_passes_s" -> warmupS,
        "cache_mb" -> cacheMb,
        "failed_frac" -> fails.size.toDouble / math.max(1L, attempted),
        "failed_base" -> attempted),
      layers = VectorMap(
        "operators.build_ms" -> spanMs("operators.build"),
        "operators.exec_ms" -> spanMs("operators.exec"),
        "sources.load_ms" -> Stats.median(loadMs.toSeq),
        "cache.mb" -> cacheMb))
  }

  /** Record the expected digests of both batch workloads' queries on one
    * data set, and dump each result plus its oracle SQL the way
    * `graft.Verify` does, so `tools/check.py <data> <dir>` can confirm
    * against DuckDB the very results whose digests were recorded. */
  def record(ctx: Ctx, dumpDir: String): Boolean = {
    val spark = ctx.spark
    val dir = ctx.opts.dataDir
    graft.operators.Similarity.setOracleDir(dir)
    graft.operators.TextAnalysis.setOracleDir(dir)
    ArrayQueries.setOracleDir(dir)
    val names = (SparkEntry.queries.keys.filter(_.startsWith("arr_")).toSeq.sorted ++
      corpusQueries).distinct
    Files.createDirectories(Paths.get(dumpDir))
    var ok = true
    val lines = names.flatMap { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      df.coalesce(1).write.mode("overwrite").parquet(s"$dumpDir/$q")
      execute(ctx, q, s"record:$q", 0L) match {
        case Right(d) => Some(s"$q\t${d.rows}\t${d.hex}")
        case Left(err) => ok = false; System.err.println(s"[perfbench] $q failed: $err"); None
      }
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(s"$dumpDir/oracle_sql.json"), Json(oracle))
    Files.writeString(Paths.get(expectedPath(ctx.opts)),
      s"# Expected result digests at ${ctx.opts.sf}: query, rows, order-independent digest.\n" +
        s"# Confirm the dumped results with tools/check.py before committing.\n" +
        lines.mkString("", "\n", "\n"))
    ok
  }
}
