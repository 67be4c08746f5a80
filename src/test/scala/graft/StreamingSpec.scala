package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{ArrayDef, ChunkMsg, EventPipelines, Simulation}

class StreamingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  test("Simulation assembles timesteps and emits window deltas") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(String, Long, Int, Seq[Double])]
    val chunks = in.toDF().toDF("name", "timestep", "nbChunks", "data")
    val msgs = Simulation.toMessages(chunks, Seq(ArrayDef("array")))
    val out = Simulation.assemble(msgs).writeStream
      .format("memory").queryName("sim_out").outputMode(OutputMode.Append()).start()

    // t0: chunks sum to 10; t1 arrives out of order and sums to 30
    in.addData(("array", 0L, 2, Seq(1.0, 2.0)), ("array", 0L, 2, Seq(3.0, 4.0)))
    out.processAllAvailable()
    in.addData(("array", 1L, 2, Seq(20.0)), ("array", 1L, 2, Seq(10.0)))
    out.processAllAvailable()
    val rows = spark.table("sim_out").as[(String, Long, Double, Option[Double])]
      .collect().sortBy(_._2)
    out.stop()
    assert(rows.map(r => (r._2, r._3)).toSeq == Seq((0L, 10.0), (1L, 30.0)))
    assert(rows.last._4.contains(20.0)) // delta vs previous timestep
    assert(rows.head._4.isEmpty) // first timestep has no predecessor
  }

  test("Simulation keeps deltas when timesteps complete out of order") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(String, Long, Int, Seq[Double])]
    val chunks = in.toDF().toDF("name", "timestep", "nbChunks", "data")
    val msgs = Simulation.toMessages(chunks, Seq(ArrayDef("array")))
    val out = Simulation.assemble(msgs).writeStream
      .format("memory").queryName("ooo_out").outputMode(OutputMode.Append()).start()
    // t=0 and t=2 complete; t=1 is missing one chunk
    in.addData(
      ("array", 0L, 1, Seq(1.0)),
      ("array", 2L, 1, Seq(30.0)),
      ("array", 1L, 2, Seq(5.0)))
    out.processAllAvailable()
    // t=1's straggler arrives; t=3 completes afterwards
    in.addData(("array", 1L, 2, Seq(15.0)), ("array", 3L, 1, Seq(100.0)))
    out.processAllAvailable()
    // duplicate chunk for completed t=0 must NOT re-open or re-emit it
    in.addData(("array", 0L, 1, Seq(999.0)))
    out.processAllAvailable()
    out.stop()
    val rows = spark.table("ooo_out")
      .as[(String, Long, Double, Option[Double])].collect().sortBy(_._2)
    assert(rows.map(r => (r._2, r._3, r._4)).toSeq == Seq(
      (0L, 1.0, None),
      (1L, 20.0, Some(19.0)),  // predecessor t=0 was already complete
      (2L, 30.0, None),        // t=1 incomplete when t=2 finished
      (3L, 100.0, Some(70.0)))) // t=2's total retained across batches
  }

  test("Simulation applies the per-chunk preprocess at ingest (doreisa preprocess)") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(String, Long, Int, Seq[Double])]
    val chunks = in.toDF().toDF("name", "timestep", "nbChunks", "data")
    val msgs = Simulation.toMessages(chunks, Seq(ArrayDef("array", preprocess = _ * 10)))
    val out = msgs.writeStream.format("memory").queryName("pre_out").start()
    in.addData(("array", 0L, 1, Seq(1.0, 2.0)))
    out.processAllAvailable()
    out.stop()
    val msg = spark.table("pre_out").as[ChunkMsg].collect().head
    assert(msg.chunkSum == 30.0)
  }

  test("Simulation handles several named arrays independently (doreisa test_several_arrays)") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(String, Long, Int, Seq[Double])]
    val chunks = in.toDF().toDF("name", "timestep", "nbChunks", "data")
    val msgs = Simulation.toMessages(chunks,
      Seq(ArrayDef("a"), ArrayDef("b", preprocess = _ * 2)))
    val out = Simulation.assemble(msgs).writeStream
      .format("memory").queryName("multi_out").outputMode(OutputMode.Append()).start()
    in.addData(
      ("a", 0L, 2, Seq(1.0)), ("b", 0L, 1, Seq(5.0)),
      ("a", 0L, 2, Seq(2.0)))
    out.processAllAvailable()
    in.addData(("a", 1L, 2, Seq(3.0)), ("a", 1L, 2, Seq(4.0)))
    out.processAllAvailable()
    out.stop()
    val rows = spark.table("multi_out")
      .as[(String, Long, Double, Option[Double])].collect().sortBy(r => (r._1, r._2))
    // b's preprocess (x2) applied; arrays tracked independently; a has a delta at t=1
    assert(rows.toSeq == Seq(
      ("a", 0L, 3.0, None), ("a", 1L, 7.0, Some(4.0)), ("b", 0L, 10.0, None)))
  }

  test("Simulation.run delivers per-timestep callbacks in order (doreisa run_simulation)") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(String, Long, Int, Seq[Double])]
    val chunks = in.toDF().toDF("name", "timestep", "nbChunks", "data")
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double, Option[Double])]
    val q = Simulation.run(chunks, Seq(ArrayDef("array")),
      (n, t, total, delta) => seen.synchronized { seen += ((n, t, total, delta)) })
    in.addData(("array", 0L, 1, Seq(1.0, 2.0)))
    q.processAllAvailable()
    in.addData(("array", 1L, 1, Seq(10.0)))
    q.processAllAvailable()
    q.stop()
    assert(seen.toSeq == Seq(
      ("array", 0L, 3.0, None), ("array", 1L, 10.0, Some(7.0))))
  }

  test("assembleWindows delivers the last k totals in order (doreisa test_sliding_window)") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(String, Long, Int, Seq[Double])]
    val chunks = in.toDF().toDF("name", "timestep", "nbChunks", "data")
    val defs = Seq(ArrayDef("array", windowSize = 2))
    val out = Simulation.assembleWindows(Simulation.toMessages(chunks, defs), defs)
      .writeStream.format("memory").queryName("w2_out")
      .outputMode(OutputMode.Append()).start()
    // t=1 completes before t=0: emission must hold until the gap fills
    in.addData(("array", 1L, 2, Seq(20.0)), ("array", 1L, 2, Seq(10.0)))
    out.processAllAvailable()
    assert(spark.table("w2_out").isEmpty)
    in.addData(("array", 0L, 2, Seq(1.0, 2.0)), ("array", 0L, 2, Seq(3.0, 4.0)))
    out.processAllAvailable()
    in.addData(("array", 2L, 1, Seq(5.0)))
    out.processAllAvailable()
    // replayed chunk below the emission watermark must not re-emit
    in.addData(("array", 0L, 2, Seq(999.0)))
    out.processAllAvailable()
    out.stop()
    val rows = spark.table("w2_out").as[graft.streaming.TimestepWindow]
      .collect().sortBy(_.timestep)
    // t=0's window clips at the stream start (len 1, doreisa range(max(...,0)))
    assert(rows.map(r => (r.timestep, r.window)).toSeq == Seq(
      (0L, Seq(10.0)), (1L, Seq(10.0, 30.0)), (2L, Seq(30.0, 5.0))))
  }

  test("assembleWindows supports mixed window sizes (doreisa test_several_arrays)") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(String, Long, Int, Seq[Double])]
    val chunks = in.toDF().toDF("name", "timestep", "nbChunks", "data")
    val defs = Seq(ArrayDef("a", windowSize = 2),
      ArrayDef("b", windowSize = 1, preprocess = _ * 2))
    val out = Simulation.assembleWindows(Simulation.toMessages(chunks, defs), defs)
      .writeStream.format("memory").queryName("wmix_out")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      ("a", 0L, 1, Seq(1.0, 2.0)), ("b", 0L, 1, Seq(5.0)),
      ("a", 1L, 1, Seq(10.0)), ("b", 1L, 1, Seq(6.0)))
    out.processAllAvailable()
    out.stop()
    val rows = spark.table("wmix_out").as[graft.streaming.TimestepWindow]
      .collect().sortBy(r => (r.name, r.timestep))
    assert(rows.map(r => (r.name, r.timestep, r.window)).toSeq == Seq(
      ("a", 0L, Seq(3.0)), ("a", 1L, Seq(3.0, 10.0)), // window of 2 once available
      ("b", 0L, Seq(10.0)), ("b", 1L, Seq(12.0)))) // w=1: bare latest, preprocess x2
  }

  test("runWindows drives the windowed callback loop (doreisa run_simulation w=k)") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(String, Long, Int, Seq[Double])]
    val chunks = in.toDF().toDF("name", "timestep", "nbChunks", "data")
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Double])]
    val q = Simulation.runWindows(chunks, Seq(ArrayDef("array", windowSize = 3)),
      (_, t, w) => seen.synchronized { seen += ((t, w)) })
    in.addData(("array", 0L, 1, Seq(1.0)))
    q.processAllAvailable()
    in.addData(("array", 1L, 1, Seq(2.0)), ("array", 2L, 1, Seq(4.0)))
    q.processAllAvailable()
    in.addData(("array", 3L, 1, Seq(8.0)))
    q.processAllAvailable()
    q.stop()
    assert(seen.toSeq == Seq(
      (0L, Seq(1.0)), (1L, Seq(1.0, 2.0)), (2L, Seq(1.0, 2.0, 4.0)),
      (3L, Seq(2.0, 4.0, 8.0)))) // t=0 dropped once outside the window
  }

  test("runWindowsPrepared pipelines preparation ahead (doreisa preparation_advance)") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(String, Long, Int, Seq[Double])]
    val chunks = in.toDF().toDF("name", "timestep", "nbChunks", "data")
    val events = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val q = Simulation.runWindowsPrepared(chunks, Seq(ArrayDef("array", windowSize = 2)),
      prepare = t => events.synchronized { events += (("prep", t)) },
      advance = 2,
      onTimestep = (_, t, _) => events.synchronized { events += (("cb", t)) })
    // priming: prepare(0..2) ran before any data
    assert(events.synchronized(events.toSeq) == Seq(("prep", 0L), ("prep", 1L), ("prep", 2L)))
    in.addData(("array", 0L, 1, Seq(1.0)))
    q.processAllAvailable()
    in.addData(("array", 1L, 1, Seq(2.0)), ("array", 2L, 1, Seq(3.0)))
    q.processAllAvailable()
    q.stop()
    val log = events.synchronized(events.toSeq)
    // each timestep prepared exactly once, in order
    assert(log.collect { case ("prep", t) => t } == (0L to 4L))
    // before the callback for t, every t' <= t+advance is prepared
    log.zipWithIndex.collect { case ((("cb"), t), i) => (t, i) }.foreach { case (t, i) =>
      val preparedBefore = log.take(i).collect { case ("prep", p) => p }
      assert(preparedBefore.contains(t + 2), s"cb($t) ran before prep(${t + 2})")
    }
    assert(log.collect { case ("cb", t) => t } == (0L to 2L))
  }

  test("runArrayOp stencils complete timesteps on the live stream") {
    implicit val sc = spark.sqlContext
    import graft.arrays.{ArrayGeometry, ChunkedArray}
    val geom = ArrayGeometry(Seq(2, 2), Seq(2, 2))
    // 4x4 array value(i,j) = 10i + j as 2x2 chunks of 2x2 at t; payload*(t+1)
    def chunk(t: Long, cr: Int, cc: Int): (String, Long, Int, Seq[Int], Seq[Double]) = {
      val data = for (i <- 0 to 1; j <- 0 to 1)
        yield (10.0 * (2 * cr + i) + (2 * cc + j)) * (t + 1)
      ("a", t, 4, Seq(cr, cc), data)
    }
    val in = MemoryStream[(String, Long, Int, Seq[Int], Seq[Double])]
    val chunks = in.toDF().toDF("name", "timestep", "nbChunks", "pos", "data")
    val got = scala.collection.mutable.Map.empty[Long, Double]
    val frames = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)] // (batchId, rows)
    val q = Simulation.runArrayOp(chunks, "a", geom,
      arr => arr.stencilLaplacian().sumPerTimestep(),
      (df, batchId) => {
        val rows = df.collect()
        frames.synchronized { frames += batchId -> rows.length }
        rows.foreach(r => got.synchronized { got(r.getLong(0)) = r.getDouble(1) })
      })
    // a leading micro-batch that completes no timestep: the sink still
    // runs once, on an empty frame, and records nothing
    in.addData(chunk(0, 0, 0))
    q.processAllAvailable()
    assert(frames.synchronized(frames.toList) == List(0L -> 0))
    assert(got.synchronized(got.isEmpty))
    // t=0 completes across batches; t=1 missing one chunk (nothing may emit for it)
    in.addData(chunk(0, 0, 1), chunk(0, 1, 0), chunk(0, 1, 1),
      chunk(1, 0, 0), chunk(1, 0, 1), chunk(1, 1, 0))
    q.processAllAvailable()
    assert(got.synchronized(got.keySet) == Set(0L))
    // straggler completes t=1; a duplicate replay of t=0 must not re-emit
    in.addData(chunk(1, 1, 1), chunk(0, 0, 0))
    q.processAllAvailable()
    q.stop()
    // expected: the batch stencil over the same dense arrays
    val dense = Array.tabulate(4, 4)((i, j) => 10.0 * i + j)
    def at(i: Int, j: Int) = if (i < 0 || i > 3 || j < 0 || j > 3) 0.0 else dense(i)(j)
    val lapSum = (for { i <- 0 to 3; j <- 0 to 3 }
      yield 4 * at(i, j) - at(i - 1, j) - at(i + 1, j) - at(i, j - 1) - at(i, j + 1)).sum
    assert(got.synchronized(got.toMap) == Map(0L -> lapSum, 1L -> 2 * lapSum))
  }

  test("runArrayOp runs each micro-batch as one job over packed input partitions") {
    implicit val sc = spark.sqlContext
    import graft.arrays.ArrayGeometry
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    // jobs by the streaming query id Spark puts in each job's properties;
    // a sentinel job run afterwards on this thread marks that every
    // earlier job start has reached the listener
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkListenerJobStart)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          val tag = Option(p.getProperty("sql.streaming.queryId"))
            .orElse(Option(p.getProperty("graft.spec.sentinel")).map(_ => "sentinel"))
          tag.foreach(t => starts.add(t -> e))
        }
    }
    val geom = ArrayGeometry(Seq(4, 4), Seq(2, 2))
    val in = MemoryStream[(String, Long, Int, Seq[Int], Seq[Double])]
    // one micro-batch of 16 ranks' pushes: one addData (one source
    // partition) per single-chunk rank, all before the query starts
    for (cr <- 0 until 4; cc <- 0 until 4)
      in.addData(("a", 0L, 16, Seq(cr, cc), Seq.fill(4)((4 * cr + cc).toDouble)))
    val chunks = in.toDF().toDF("name", "timestep", "nbChunks", "pos", "data")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    spark.sparkContext.addSparkListener(listener)
    try {
      val q = Simulation.runArrayOp(chunks, "a", geom, _.sumPerTimestep(),
        (df, _) => df.collect().foreach(r => got.synchronized { got += r.getLong(0) -> r.getDouble(1) }))
      q.processAllAvailable()
      q.stop()
      spark.sparkContext.setLocalProperty("graft.spec.sentinel", "1")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty("graft.spec.sentinel", null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!starts.asScala.exists(_._1 == "sentinel") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(got.synchronized(got.toList) == List(0L -> 4.0 * (0 until 16).sum))
      val jobs = starts.asScala.toList.collect { case (id, e) if id == q.id.toString => e }
      assert(jobs.map(_.jobId).size == 1, "one Spark job per micro-batch")
      // the leaf stage reads the source and feeds the state shuffle
      val slots = spark.sparkContext.defaultParallelism
      val leafTasks = jobs.flatMap(_.stageInfos).filter(_.parentIds.isEmpty).map(_.numTasks)
      assert(leafTasks.nonEmpty)
      assert(leafTasks.forall(_ <= slots), s"at most $slots tasks per leaf stage")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("runArrayOp runs the spectral face live: per-timestep FFT bit-equal to batch") {
    implicit val sc = spark.sqlContext
    import graft.arrays.{ArrayGeometry, ChunkedArray}
    val geom = ArrayGeometry(Seq(2), Seq(8))
    def line(t: Long): Seq[Double] =
      (0 until 16).map(i => ((i * 13 + 5 + t * 3) % 19) * 0.5 - 3.0)
    def chunk(t: Long, c: Int): (String, Long, Int, Seq[Int], Seq[Double]) =
      ("a", t, 2, Seq(c), line(t).slice(8 * c, 8 * c + 8))
    val in = MemoryStream[(String, Long, Int, Seq[Int], Seq[Double])]
    val chunks = in.toDF().toDF("name", "timestep", "nbChunks", "pos", "data")
    val got = scala.collection.mutable.Map.empty[(Long, Long), (Double, Double)]
    val q = Simulation.runArrayOp(chunks, "a", geom,
      arr => arr.fftRows(),
      (df, _) => df.collect().foreach(r => got.synchronized {
        got((r.getLong(0), r.getLong(1))) = (r.getDouble(2), r.getDouble(3))
      }))
    in.addData(chunk(0, 0), chunk(0, 1), chunk(1, 0))
    q.processAllAvailable()
    assert(got.synchronized(got.keySet.map(_._1)) == Set(0L),
      "incomplete timestep 1 must not transform")
    in.addData(chunk(1, 1))
    q.processAllAvailable()
    q.stop()
    // bit-equal to the batch face over the same dense arrays
    val rows = for (t <- Seq(0L, 1L); c <- 0 to 1)
      yield (t, Seq(c), line(t).slice(8 * c, 8 * c + 8))
    val batch = ChunkedArray(rows.toDF("timestep", "pos", "data"), geom)
      .fftRows().collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(got.synchronized(got.toMap) == batch,
      "the live per-timestep spectrum IS the batch spectrum")
  }

  test("runArrayOp composes the axis-variance and masked-reduce faces on the stream") {
    implicit val sc = spark.sqlContext
    import graft.arrays.ArrayGeometry
    import org.apache.spark.sql.functions.lit
    val geom = ArrayGeometry(Seq(2, 2), Seq(2, 2))
    def chunk(cr: Int, cc: Int): (String, Long, Int, Seq[Int], Seq[Double]) = {
      val data = for (i <- 0 to 1; j <- 0 to 1)
        yield 10.0 * (2 * cr + i) + (2 * cc + j)
      ("v", 0L, 4, Seq(cr, cc), data)
    }
    val in = MemoryStream[(String, Long, Int, Seq[Int], Seq[Double])]
    val chunks = in.toDF().toDF("name", "timestep", "nbChunks", "pos", "data")
    val vars = scala.collection.mutable.Map.empty[Long, Double]
    val masked = scala.collection.mutable.Map.empty[Long, (Long, Double)]
    val q = Simulation.runArrayOp(chunks, "v", geom,
      // var over j of {10i..10i+3} = 1.25 per row; masked: cells > 15
      arr => arr.axisVar(axis = 1).rowsNd
        .join(arr.maskedSumPerTimestep(_ > lit(15.0)), "timestep"),
      (df, _) => df.collect().foreach { r =>
        vars.synchronized { vars(r.getAs[Long]("i0")) = r.getAs[Double]("value") }
        masked.synchronized {
          masked(r.getAs[Long]("timestep")) =
            (r.getAs[Long]("n_kept"), r.getAs[Double]("total"))
        }
      })
    in.addData(chunk(0, 0), chunk(0, 1), chunk(1, 0), chunk(1, 1))
    q.processAllAvailable()
    q.stop()
    assert(vars.synchronized(vars.toMap) ==
      Map(0L -> 1.25, 1L -> 1.25, 2L -> 1.25, 3L -> 1.25))
    // cells > 15: rows i=2 (20..23, sum 86) and i=3 (30..33, sum 126)
    assert(masked.synchronized(masked.toMap) == Map(0L -> ((8L, 212.0))))
  }

  test("StreamingGram: running Gram is bit-equal to batch gramRows at every prefix") {
    implicit val sc = spark.sqlContext
    import graft.arrays.{ArrayGeometry, ChunkedArray}
    import graft.streaming.StreamingGram
    import spark.implicits._
    val geom = ArrayGeometry(Seq(2, 2), Seq(2, 2))
    // 4x4 field with 2-decimal cells varying per timestep (the real
    // payload shape: decimal products must stay exact across the split)
    def cell(t: Long, i: Int, j: Int): Double = 10.0 * i + j + 0.25 * (t + 1)
    def chunk(t: Long, cr: Int, cc: Int): (String, Long, Int, Seq[Int], Seq[Double]) = {
      val data = for (i <- 0 to 1; j <- 0 to 1)
        yield cell(t, 2 * cr + i, 2 * cc + j)
      ("g", t, 4, Seq(cr, cc), data)
    }
    def batchGram(ts: Seq[Long]): Map[(Long, Long), Double] = {
      val rows = for (t <- ts; cr <- 0 to 1; cc <- 0 to 1)
        yield (t, Seq(cr, cc),
          (for (i <- 0 to 1; j <- 0 to 1) yield cell(t, 2 * cr + i, 2 * cc + j)))
      ChunkedArray(rows.toDF("timestep", "pos", "data"), geom).gramRows()
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    }
    def bits(m: Map[(Long, Long), Double]): Map[(Long, Long), Long] =
      m.view.mapValues(java.lang.Double.doubleToRawLongBits).toMap
    val state = new StreamingGram.RunningGram
    val in = MemoryStream[(String, Long, Int, Seq[Int], Seq[Double])]
    val chunks = in.toDF().toDF("name", "timestep", "nbChunks", "pos", "data")
    val q = StreamingGram.run(chunks, "g", geom, state)
    // prefix 1: t=0 complete, t=2 partial (must not contribute yet)
    in.addData(chunk(0, 1, 1), chunk(0, 0, 0), chunk(0, 1, 0), chunk(0, 0, 1),
      chunk(2, 0, 0))
    q.processAllAvailable()
    def snap(): Map[(Long, Long), Double] = state.snapshot(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(bits(snap()) == bits(batchGram(Seq(0L))), "prefix {0}")
    // prefix 2: t=1 and the t=2 straggler arrive out of order, split
    // across micro-batches
    in.addData(chunk(1, 0, 0), chunk(1, 1, 1))
    q.processAllAvailable()
    in.addData(chunk(2, 1, 0), chunk(2, 0, 1), chunk(2, 1, 1), chunk(1, 0, 1),
      chunk(1, 1, 0))
    q.processAllAvailable()
    q.stop()
    assert(bits(snap()) == bits(batchGram(Seq(0L, 1L, 2L))), "full set")
    // the k x k artifact feeds the live spectrum: same Eigen input as
    // the batch arr_svd_vals route over the same timesteps
    val gm = state.gram(4)
    val gb = Array.ofDim[Double](4, 4)
    batchGram(Seq(0L, 1L, 2L)).foreach { case ((i, j), v) => gb(i.toInt)(j.toInt) = v }
    val svStream = graft.arrays.Eigen.singularValuesFromGram(gm)
    val svBatch = graft.arrays.Eigen.singularValuesFromGram(gb)
    assert(svStream.zip(svBatch).forall { case (a, b) =>
      java.lang.Double.doubleToRawLongBits(a) == java.lang.Double.doubleToRawLongBits(b)
    }, "live singular spectrum == batch spectrum, bit-for-bit")
  }

  test("assembleChunks done-markers honor the state TTL (memory release)") {
    implicit val sc = spark.sqlContext
    // Processing-time timeouts make Spark schedule batches continuously,
    // so processAllAvailable never observes a quiescent stream and would
    // hang — poll the sink with a deadline instead.
    def awaitRows(table: String, n: Long): Unit = {
      val deadline = System.currentTimeMillis + 30000
      while (spark.table(table).count() < n && System.currentTimeMillis < deadline)
        Thread.sleep(50)
      assert(spark.table(table).count() >= n, s"$table never reached $n rows")
    }
    val in = MemoryStream[(String, Long, Int, Seq[Int], Seq[Double])]
    val chunks = in.toDF().toDF("name", "timestep", "nbChunks", "pos", "data")
    val q = Simulation.assembleChunks(chunks, doneTtlMs = 1L).writeStream
      .format("memory").queryName("ttl_out").outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50L))
      .start()
    in.addData(("a", 0L, 1, Seq(0), Seq(1.0)))
    awaitRows("ttl_out", 1)
    Thread.sleep(300) // let the 1 ms TTL lapse and a batch fire the timeout
    // post-expiry replay re-opens the timestep and re-emits — the
    // documented TTL-shorter-than-replay-horizon tradeoff
    in.addData(("a", 0L, 1, Seq(0), Seq(1.0)))
    awaitRows("ttl_out", 2)
    q.stop()
    val rows = spark.table("ttl_out").as[graft.streaming.RawChunk].collect()
    assert(rows.count(_.timestep == 0L) == 2)

    // a TTL far beyond the replay horizon still dedups replays
    val in2 = MemoryStream[(String, Long, Int, Seq[Int], Seq[Double])]
    val chunks2 = in2.toDF().toDF("name", "timestep", "nbChunks", "pos", "data")
    val q2 = Simulation.assembleChunks(chunks2, doneTtlMs = 3600000L).writeStream
      .format("memory").queryName("ttl_out2").outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50L))
      .start()
    in2.addData(("a", 0L, 1, Seq(0), Seq(1.0)))
    awaitRows("ttl_out2", 1)
    in2.addData(("a", 0L, 1, Seq(0), Seq(1.0))) // replay within TTL: dropped
    Thread.sleep(500)
    q2.stop()
    assert(spark.table("ttl_out2").count() == 1)
  }

  test("elementwiseDelta and chunkWindows expire a dead producer's state (idle TTL)") {
    implicit val sc = spark.sqlContext
    def awaitRows(table: String, n: Long): Unit = {
      val deadline = System.currentTimeMillis + 30000
      while (spark.table(table).count() < n && System.currentTimeMillis < deadline)
        Thread.sleep(50)
      assert(spark.table(table).count() >= n, s"$table never reached $n rows")
    }
    // elementwiseDelta: after expiry the position restarts fresh, so the
    // replayed stream's FIRST chunk emits no delta (t=1 finds no t=0) and
    // only t=2 - t=1 comes out; surviving state would have emitted both.
    val in = MemoryStream[(String, Long, Seq[Int], Seq[Double])]
    val chunks = in.toDF().toDF("name", "timestep", "pos", "data")
    val q = graft.streaming.WindowedArrays.elementwiseDelta(chunks, idleTtlMs = 1L)
      .writeStream
      .format("memory").queryName("ed_ttl").outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50L))
      .start()
    in.addData(("a", 0L, Seq(0), Seq(1.0)), ("a", 1L, Seq(0), Seq(5.0)))
    awaitRows("ed_ttl", 1) // t=1's delta proves the first batch ran
    Thread.sleep(500) // let the 1 ms TTL lapse and a no-data batch fire it
    in.addData(("a", 2L, Seq(0), Seq(7.0)), ("a", 3L, Seq(0), Seq(10.0)))
    awaitRows("ed_ttl", 2)
    q.stop()
    val deltas = spark.table("ed_ttl").as[graft.streaming.DeltaChunk].collect()
    assert(deltas.map(d => d.timestep -> d.data).toSet == Set(
      1L -> Seq(4.0), 3L -> Seq(3.0)),
      "expired state must not supply t=1 as t=2's predecessor")

    // chunkWindows: expiry resets the emission watermark to `start`, so a
    // replayed t=0 re-emits — within-TTL state would have dropped it.
    val in2 = MemoryStream[(String, Long, Seq[Int], Seq[Double])]
    val chunks2 = in2.toDF().toDF("name", "timestep", "pos", "data")
    val q2 = graft.streaming.WindowedArrays.chunkWindows(chunks2, 2, idleTtlMs = 1L)
      .writeStream
      .format("memory").queryName("cw_ttl").outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50L))
      .start()
    in2.addData(("a", 0L, Seq(0), Seq(1.0)))
    awaitRows("cw_ttl", 1)
    Thread.sleep(500)
    in2.addData(("a", 0L, Seq(0), Seq(2.0)))
    awaitRows("cw_ttl", 2)
    q2.stop()
    val wins = spark.table("cw_ttl").as[graft.streaming.ChunkWindow].collect()
    assert(wins.count(_.timestep == 0L) == 2,
      "post-expiry replay must re-emit from the reset watermark")

    // assemble and assembleWindows, keyed per array name: a replayed t=0
    // re-emits after expiry and is dropped within the TTL; t=1 rides in
    // the replay's batch so its row proves that batch ran
    def zerosAfterReplay(table: String, ttlMs: Long,
        op: (org.apache.spark.sql.Dataset[ChunkMsg], Long) => org.apache.spark.sql.DataFrame): Long = {
      val in = MemoryStream[ChunkMsg]
      val q = op(in.toDS(), ttlMs).writeStream
        .format("memory").queryName(table).outputMode(OutputMode.Append())
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50L))
        .start()
      in.addData(ChunkMsg("a", 0L, 1, 1.0))
      awaitRows(table, 1)
      Thread.sleep(500) // past a 1 ms TTL a no-data batch expires the state
      in.addData(ChunkMsg("a", 0L, 1, 1.0), ChunkMsg("a", 1L, 1, 2.0))
      val deadline = System.currentTimeMillis + 30000
      while (spark.table(table).where("timestep = 1").count() == 0 &&
          System.currentTimeMillis < deadline) Thread.sleep(50)
      q.stop()
      assert(spark.table(table).where("timestep = 1").count() == 1, s"$table never emitted t=1")
      spark.table(table).where("timestep = 0").count()
    }
    val asm = (m: org.apache.spark.sql.Dataset[ChunkMsg], ttl: Long) =>
      Simulation.assemble(m, idleTtlMs = ttl).toDF()
    val asmWin = (m: org.apache.spark.sql.Dataset[ChunkMsg], ttl: Long) =>
      Simulation.assembleWindows(m, Seq(ArrayDef("a", windowSize = 2)), idleTtlMs = ttl).toDF()
    assert(zerosAfterReplay("asm_ttl", 1L, asm) == 2, "assemble: post-expiry replay must re-emit")
    assert(zerosAfterReplay("asm_ttl_in", 3600000L, asm) == 1, "assemble: in-TTL replay must drop")
    assert(zerosAfterReplay("asmw_ttl", 1L, asmWin) == 2,
      "assembleWindows: post-expiry replay must re-emit from the reset watermark")
    assert(zerosAfterReplay("asmw_ttl_in", 3600000L, asmWin) == 1,
      "assembleWindows: in-TTL replay must drop")
  }

  test("WindowedArrays.chunkWindows delivers the last k payloads per position") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(String, Long, Seq[Int], Seq[Double])]
    val chunks = in.toDF().toDF("name", "timestep", "pos", "data")
    val q = graft.streaming.WindowedArrays.chunkWindows(chunks, 3).writeStream
      .format("memory").queryName("cw_out").outputMode(OutputMode.Append()).start()
    // pos [0]: t=2 arrives before t=1 (buffered), t=0 first
    in.addData(("a", 0L, Seq(0), Seq(1.0, 1.0)), ("a", 2L, Seq(0), Seq(4.0, 4.0)))
    q.processAllAvailable()
    in.addData(("a", 1L, Seq(0), Seq(2.0, 2.0)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("cw_out").as[graft.streaming.ChunkWindow]
      .collect().sortBy(_.timestep)
    assert(rows.map(r => (r.timestep, r.window)).toSeq == Seq(
      (0L, Seq(Seq(1.0, 1.0))),
      (1L, Seq(Seq(1.0, 1.0), Seq(2.0, 2.0))),
      (2L, Seq(Seq(1.0, 1.0), Seq(2.0, 2.0), Seq(4.0, 4.0)))))
  }

  test("EventPipelines.hourly windows an event-time stream") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val events = in.toDF().toDF("ts", "event_type", "value")
    val q = EventPipelines.hourly(events).writeStream
      .format("memory").queryName("hourly_out").outputMode(OutputMode.Update()).start()
    in.addData(
      (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
      (Timestamp.valueOf("2024-01-01 10:55:00"), "click", 2.0),
      (Timestamp.valueOf("2024-01-01 11:05:00"), "click", 4.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("hourly_out")
      .select(col("window.start").cast("string"), col("n_events"), col("total_value"))
      .as[(String, Long, Double)].collect().sortBy(_._1)
    assert(rows.map(r => (r._2, r._3)).toSeq == Seq((2L, 3.0), (1L, 4.0)))
  }

  test("WindowedArrays emits elementwise deltas per grid position") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(String, Long, Seq[Int], Seq[Double])]
    val chunks = in.toDF().toDF("name", "timestep", "pos", "data")
    val q = graft.streaming.WindowedArrays.elementwiseDelta(chunks).writeStream
      .format("memory").queryName("win_out").outputMode(OutputMode.Append()).start()
    // two grid positions; t=1 arrives before t=0 for pos [1]
    in.addData(
      ("a", 0L, Seq(0), Seq(1.0, 2.0)),
      ("a", 1L, Seq(1), Seq(9.0, 9.0)),
      ("a", 0L, Seq(1), Seq(4.0, 5.0)))
    q.processAllAvailable()
    in.addData(("a", 1L, Seq(0), Seq(3.0, 6.0)))
    q.processAllAvailable()
    // pos [2]: predecessor arrives a batch AFTER its successor
    in.addData(("a", 1L, Seq(2), Seq(8.0)))
    q.processAllAvailable()
    in.addData(("a", 0L, Seq(2), Seq(3.0)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("win_out")
      .as[graft.streaming.DeltaChunk].collect()
      .map(d => (d.pos.head, d.timestep) -> d.data).toMap
    // pos [1]: t=1 came first but same-batch sort resolves t=0 as its predecessor
    assert(rows((1, 1L)) == Seq(5.0, 4.0))
    // pos [0]: cross-batch state retained
    assert(rows((0, 1L)) == Seq(2.0, 4.0))
    // pos [2]: late predecessor triggered the waiting successor's delta
    assert(rows((2, 1L)) == Seq(5.0))
    assert(rows.size == 3) // t=0 chunks emit nothing themselves
  }

  test("file-based chunk stream end-to-end (readStream -> assemble -> sink)") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("timestep", LongType),
      StructField("nbChunks", IntegerType),
      StructField("data", ArrayType(DoubleType))))
    // producer writes one parquet file per timestep (the file-source form
    // of doreisa's per-iteration chunk push)
    Seq(("array", 0L, 2, Seq(1.0, 2.0)), ("array", 0L, 2, Seq(3.0)))
      .toDF("name", "timestep", "nbChunks", "data")
      .write.parquet(s"$dir/t0")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1") // doreisa max_pending_arrays analog
      .parquet(s"$dir/*")
    val q = Simulation.assemble(Simulation.toMessages(stream, Seq(ArrayDef("array"))))
      .writeStream.format("memory").queryName("file_out")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    Seq(("array", 1L, 1, Seq(10.0, 4.0)))
      .toDF("name", "timestep", "nbChunks", "data")
      .write.parquet(s"$dir/t1")
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("file_out")
      .as[(String, Long, Double, Option[Double])].collect().sortBy(_._2)
    assert(rows.map(r => (r._2, r._3)).toSeq == Seq((0L, 6.0), (1L, 14.0)))
    assert(rows.last._4.contains(8.0))
  }

  test("assembleWindows and assembleChunks restart from their checkpoint with unchanged output") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types._
    val base = java.nio.file.Files.createTempDirectory("graft_restart").toString
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("timestep", LongType),
      StructField("nbChunks", IntegerType), StructField("pos", ArrayType(IntegerType)),
      StructField("data", ArrayType(DoubleType))))
    // two producer files: t=1 straddles them, so its partial state must
    // survive the restart, and the second file replays an emitted t=0 chunk
    val files = Seq(
      Seq(("a", 0L, 2, Seq(0), Seq(1.25, 2.5)), ("a", 0L, 2, Seq(1), Seq(3.75)),
        ("a", 1L, 2, Seq(0), Seq(0.5))),
      Seq(("a", 1L, 2, Seq(1), Seq(4.0, 1.5)), ("a", 0L, 2, Seq(1), Seq(3.75)),
        ("a", 2L, 2, Seq(1), Seq(7.0)), ("a", 2L, 2, Seq(0), Seq(2.25))))
    val defs = Seq(ArrayDef("a", windowSize = 2))
    // parquet sink on a fixed checkpoint; `restart` stops the query after
    // the first file and starts it again on the same checkpoint
    def run(tag: String, restart: Boolean, op: DataFrame => DataFrame): DataFrame = {
      val (src, out, cp) = (s"$base/$tag/src", s"$base/$tag/out", s"$base/$tag/cp")
      def start() = op(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$src/*"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", cp).outputMode(OutputMode.Append()).start()
      def write(i: Int): Unit = files(i).toDF("name", "timestep", "nbChunks", "pos", "data")
        .coalesce(1).write.parquet(s"$src/f$i")
      write(0)
      var q = start()
      q.processAllAvailable()
      if (restart) q.stop()
      write(1)
      if (restart) q = start()
      q.processAllAvailable()
      q.stop()
      spark.read.parquet(out)
    }
    val windows = (s: DataFrame) =>
      Simulation.assembleWindows(Simulation.toMessages(s, defs), defs).toDF()
    val winOnce = run("win_once", restart = false, windows)
      .as[(String, Long, Seq[Double])].collect().sortBy(_._2).toSeq
    val winRestarted = run("win_restart", restart = true, windows)
      .as[(String, Long, Seq[Double])].collect().sortBy(_._2).toSeq
    assert(winOnce == Seq(("a", 0L, Seq(7.5)), ("a", 1L, Seq(7.5, 6.0)), ("a", 2L, Seq(6.0, 9.25))))
    assert(winRestarted == winOnce)

    val chunks = (s: DataFrame) => Simulation.assembleChunks(s).toDF()
    def sorted(df: DataFrame) = df.as[graft.streaming.RawChunk].collect()
      .sortBy(c => (c.timestep, c.pos.head)).toSeq
    val chunksOnce = sorted(run("chunks_once", restart = false, chunks))
    val chunksRestarted = sorted(run("chunks_restart", restart = true, chunks))
    assert(chunksOnce.map(c => (c.timestep, c.pos)) ==
      Seq((0L, Seq(0)), (0L, Seq(1)), (1L, Seq(0)), (1L, Seq(1)), (2L, Seq(0)), (2L, Seq(1))))
    assert(chunksRestarted == chunksOnce)
  }

  test("EventPipelines.sessions merges events within the gap") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val events = in.toDF().toDF("ts", "user_id")
    val q = EventPipelines.sessions(events).writeStream
      .format("memory").queryName("sess_out").outputMode(OutputMode.Append()).start()
    in.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L),
      (Timestamp.valueOf("2024-01-01 10:10:00"), 1L), // same session
      (Timestamp.valueOf("2024-01-01 12:00:00"), 1L)) // new session
    q.processAllAvailable()
    // advance the watermark far enough to close and emit both sessions
    in.addData((Timestamp.valueOf("2024-01-02 00:00:00"), 99L))
    q.processAllAvailable()
    q.stop()
    val counts = spark.table("sess_out")
      .filter(org.apache.spark.sql.functions.col("user_id") === 1L)
      .select("n_events").as[Long].collect().sorted
    assert(counts.toSeq == Seq(1L, 2L))
  }

  test("StreamingDedup keeps the first arrival of each content hash") {
    import graft.streaming.StreamingDedup
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val docs = in.toDF().toDF("ts", "doc_id", "text")
    val q = StreamingDedup.dropDupDocs(docs).writeStream
      .format("memory").queryName("dedup_out").outputMode(OutputMode.Append()).start()
    in.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "alpha beta"),
      (Timestamp.valueOf("2024-01-01 10:01:00"), 2L, "gamma"),
      (Timestamp.valueOf("2024-01-01 10:02:00"), 3L, "alpha beta")) // dup of 1
    q.processAllAvailable()
    // a cross-batch duplicate within the watermark window is dropped too
    in.addData((Timestamp.valueOf("2024-01-01 10:30:00"), 4L, "gamma"),
      (Timestamp.valueOf("2024-01-01 10:31:00"), 5L, "delta"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("dedup_out").select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 2L, 5L))
  }

  test("StreamingAnomaly flags the burst hour and stays silent for steady users") {
    import graft.streaming.StreamingAnomaly
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val events = in.toDF().toDF("user_id", "ts")
    val q = StreamingAnomaly.bursts(events, delay = "1 hour", minHours = 3)
      .writeStream.format("memory").queryName("burst_out")
      .outputMode(OutputMode.Append()).start()
    // UTC-epoch construction: Timestamp.valueOf would parse in the
    // JVM-default zone and break the fixed epoch-hour buckets on
    // non-whole-hour-offset zones
    def at(h: Int, m: Int) =
      new Timestamp(java.time.Instant.parse(f"2024-01-01T$h%02d:$m%02d:00Z").toEpochMilli)
    // user 1: hours 0-3 alternate 2/3 events (mean 2.5, sd 0.5), hour 4
    // bursts to 8 (z = 11); user 2: constant 2/hour (sd = 0 -> never
    // scored, the batch operator's guard). Delivered shuffled in ONE
    // batch (within-batch disorder is unbounded; ACROSS batches events
    // behind the watermark are dropped by Spark before the state
    // function — the standard late-data contract).
    val steady = for {
      h <- 0 to 3
      m <- if (h % 2 == 0) Seq(5, 35) else Seq(5, 25, 45)
    } yield (1L, at(h, m))
    val burst = for (m <- 1 to 8) yield (1L, at(4, m))
    val other = for (h <- 0 to 5; m <- Seq(10, 40)) yield (2L, at(h, m))
    in.addData(new scala.util.Random(7).shuffle(steady ++ burst ++ other))
    q.processAllAvailable()
    // hours 0-3 close here (watermark 04:40): h3 scores z=1.41 < 2 ->
    // silent; hour 4 stays open. User 1 sends nothing further — closure
    // must ride the event-time timeout as user 2 advances the watermark.
    in.addData(Seq((2L, at(7, 0))))
    q.processAllAvailable()
    in.addData(Seq((2L, at(7, 30))))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("burst_out")
      .select("user_id", "hour_start", "n_events", "z")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
    assert(got.length == 1)
    val (u, hs, c, z) = got.head
    assert(u == 1L && hs == at(4, 0) && c == 8L)
    assert(z > 2.0)
  }

  test("StreamingAnomaly idle-TTL drops a silent user's state wholesale") {
    import graft.streaming.StreamingAnomaly
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val events = in.toDF().toDF("user_id", "ts")
    val q = StreamingAnomaly.bursts(events, delay = "1 hour", minHours = 3,
        idleTtlMs = 3600000L)
      .writeStream.format("memory").queryName("burst_ttl_out")
      .outputMode(OutputMode.Append()).start()
    // UTC-epoch construction: Timestamp.valueOf would parse in the
    // JVM-default zone and break the fixed epoch-hour buckets on
    // non-whole-hour-offset zones
    def at(h: Int, m: Int) =
      new Timestamp(java.time.Instant.parse(f"2024-01-01T$h%02d:$m%02d:00Z").toEpochMilli)
    in.addData(Seq((1L, at(0, 5)), (1L, at(0, 35)), (2L, at(0, 10))))
    q.processAllAvailable()
    // user 1 goes silent; user 2 advances the watermark: hour 0 closes,
    // then the TTL (1h past the watermark) fires and removes user 1
    for (h <- Seq(3, 6, 9, 12)) {
      in.addData(Seq((2L, at(h, 0))))
      q.processAllAvailable()
    }
    val counts = q.recentProgress.toSeq
      .flatMap(p => Option(p.stateOperators).toSeq.flatten.headOption)
      .map(_.numRowsTotal)
    q.stop()
    assert(counts.max >= 2, s"both users held state: $counts")
    assert(counts.last == 1, s"silent user's state must be dropped: $counts")
  }

  test("StreamingClean gates, dedups and counts survivors per source") {
    import graft.streaming.StreamingClean
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String, String)]
    val docs = in.toDF().toDF("ts", "doc_id", "text", "source")
    val q = StreamingClean.cleanCounts(docs).writeStream
      .format("memory").queryName("clean_out").outputMode(OutputMode.Append()).start()
    in.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "alpha beta gamma", "s0"),
      (Timestamp.valueOf("2024-01-01 10:01:00"), 2L, "too short", "s0"), // gated
      (Timestamp.valueOf("2024-01-01 10:02:00"), 3L, "alpha beta gamma", "s0"), // dup of 1
      (Timestamp.valueOf("2024-01-01 10:03:00"), 4L, "delta eps zeta eta", "s1"))
    q.processAllAvailable()
    // advance the watermark far enough to close the 10:00 window
    in.addData((Timestamp.valueOf("2024-01-01 13:00:00"), 5L, "x y z", "s1"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("clean_out")
      .select("source", "n_kept", "kept_tokens")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    // s0: doc 1 only (doc 2 gated at 2 tokens, doc 3 duplicate);
    // s1: doc 4 (doc 5's window is still open when the query stops)
    assert(rows.toSeq == Seq(("s0", 1L, 3L), ("s1", 1L, 4L)))
  }

  test("StreamingVocab scores windowed OOV drift against a fixed vocabulary") {
    import graft.streaming.StreamingVocab
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, String)]
    val docs = in.toDF().toDF("ts", "text", "source")
    val q = StreamingVocab.oovDrift(docs, vocab = Seq("alpha", "beta", "gamma"))
      .writeStream.format("memory").queryName("vocab_out")
      .outputMode(OutputMode.Append()).start()
    // batch 1: in-order docs in the 10:00 window
    in.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), "alpha beta zork", "s0"),
      (Timestamp.valueOf("2024-01-01 10:20:00"), "gamma gamma", "s1"))
    q.processAllAvailable()
    // batch 2: a LATE but in-horizon doc lands back in the same window
    // (cross-batch disorder must merge, not fork, the open aggregate)
    in.addData((Timestamp.valueOf("2024-01-01 10:40:00"), "quux alpha", "s0"))
    q.processAllAvailable()
    // advance the watermark past 11:00 + delay to close the window
    in.addData((Timestamp.valueOf("2024-01-01 13:00:00"), "alpha", "s0"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("vocab_out")
      .select("source", "n_tokens", "n_oov", "oov_frac")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sorted
    // s0: 5 tokens, zork + quux OOV; s1: 2 tokens, all in-vocab
    assert(rows.toSeq == Seq(("s0", 5L, 2L, 0.4), ("s1", 2L, 0L, 0.0)))
  }

  test("oovDrift vocabulary membership plans as a hash-set INSET at scale") {
    // a realistic top-K vocab is tens of thousands of tokens: the
    // optimizer must convert the literal In(...) to InSet (O(1) hash
    // probe, still codegen'd) instead of a giant predicate chain that
    // would blow codegen limits (ADVICE r12). Batch plan of the same
    // expression tree (EliminateEventTimeWatermark drops the no-op
    // watermark), so the physical membership op is inspectable.
    import graft.streaming.StreamingVocab
    val bigVocab = (0 until 20000).map(i => s"tok$i")
    val docs = Seq((Timestamp.valueOf("2024-01-01 10:00:00"), "tok1 tok2 zork", "s0"))
      .toDF("ts", "text", "source")
    val out = StreamingVocab.oovDrift(docs, bigVocab)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("INSET"),
      "vocab membership fell back to a literal In chain")
    val r = out.select("n_tokens", "n_oov").collect().head
    assert((r.getLong(0), r.getLong(1)) == ((3L, 1L)))
  }

  test("StreamingHeavyHitters folds batches into one bounded sketch per window") {
    import graft.streaming.StreamingHeavyHitters
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val events = in.toDF().toDF("ts", "event_type")
    val q = StreamingHeavyHitters.windowedHeavyHitters(events, k = 8)
      .writeStream.format("memory").queryName("hh_out")
      .outputMode(OutputMode.Append()).start()
    def at(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // batch 1 then a LATE in-horizon batch: the window's sketch state
    // must absorb both through the aggregate's merge
    in.addData((at(5), "click"), (at(10), "click"), (at(20), "view"))
    q.processAllAvailable()
    in.addData((at(1), "click"), (at(40), "view"), (at(45), "buy"))
    q.processAllAvailable()
    // advance the watermark past 11:00 + delay to close the window
    in.addData((Timestamp.valueOf("2024-01-01 13:00:00"), "click"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("hh_out")
      .select("event_type", "n_events")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sorted
    // k-1 = 7 >= 3 distinct: the sketch is exact for the closed window
    assert(rows == Seq("buy" -> 1L, "click" -> 3L, "view" -> 2L))
  }

  test("StreamingNearDedup flags in-horizon simhash near-duplicates") {
    import graft.streaming.StreamingNearDedup
    import org.apache.spark.sql.graftexpr.{SketchExpressions, TextExpressions}
    implicit val sc = spark.sqlContext
    // fixture texts, hamming-validated through the BATCH expressions so
    // the spec cannot silently drift from its intent
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = base.replace("tok40", "other")
    val far = (1 to 10).map(i => s"w$i").mkString(" ")
    val tie = "totally different words used only by the tie pair"
    def sig(t: String): Long = Seq(t).toDF("text")
      .select(SketchExpressions.simhash(
        TextExpressions.hashWordNgrams(col("text"), 1),
        graft.operators.Dedup.SimhashBits).as("s"))
      .head().getLong(0)
    val hNear = java.lang.Long.bitCount(sig(base) ^ sig(near))
    val hFar = java.lang.Long.bitCount(sig(base) ^ sig(far))
    assert(hNear <= graft.operators.Dedup.SimhashMaxHamming,
      s"fixture drift: near pair at hamming $hNear — pick closer texts")
    assert(hFar > graft.operators.Dedup.SimhashMaxHamming,
      s"fixture drift: far pair at hamming $hFar — pick more distinct texts")

    val in = MemoryStream[(Timestamp, Long, String)]
    val docs = in.toDF().toDF("ts", "doc_id", "text")
    val q = StreamingNearDedup.nearDupFlags(docs).writeStream
      .format("memory").queryName("near_out").outputMode(OutputMode.Append()).start()
    def at(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    in.addData((at(10, 0), 1L, base), (at(10, 1), 3L, far))
    q.processAllAvailable()
    // cross-batch near-dup: doc 2 pairs with doc 1 from the prior batch
    in.addData((at(10, 20), 2L, near))
    q.processAllAvailable()
    // same-batch exact pair at the SAME ts: the id tie-break flags only 5
    in.addData((at(10, 30), 4L, tie), (at(10, 30), 5L, tie))
    q.processAllAvailable()
    // a copy of base far outside the 1h horizon is NOT flagged
    in.addData((at(13, 0), 6L, base))
    q.processAllAvailable()
    in.addData((at(15, 0), 7L, "lone closing document"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("near_out").select("doc_id", "dup_of", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set((2L, 1L, hNear.toLong), (5L, 4L, 0L)), s"got $rows")
  }

  test("HaloStencil fires per chunk incrementally and matches the batch stencil") {
    import graft.arrays.{ArrayGeometry, ChunkedArray}
    import graft.streaming.{HaloChunk, HaloStencil}
    implicit val sc = spark.sqlContext
    val geom = ArrayGeometry(Seq(2, 2), Seq(2, 2))
    def chunk(cr: Int, cc: Int): Seq[Double] =
      (for (i <- 0 to 1; j <- 0 to 1) yield 10.0 * (2 * cr + i) + (2 * cc + j)).toSeq
    val in = MemoryStream[(String, Long, Seq[Int], Seq[Double])]
    val chunks = in.toDF().toDF("name", "timestep", "pos", "data")
    val out = HaloStencil.stencilChunks(chunks, geom).writeStream
      .format("memory").queryName("halo_out").outputMode(OutputMode.Append()).start()

    // 3 of 4 chunks arrive: only (0,0) has its full neighborhood ((0,1)
    // right face + (1,0) down face), so only it may fire — no waiting for
    // the whole timestep
    in.addData(("a", 0L, Seq(0, 0), chunk(0, 0)),
      ("a", 0L, Seq(0, 1), chunk(0, 1)), ("a", 0L, Seq(1, 0), chunk(1, 0)))
    out.processAllAvailable()
    assert(spark.table("halo_out").as[HaloChunk].collect().map(_.pos).toSet
      == Set(Seq(0, 0)))

    // the last chunk completes the remaining three neighborhoods
    in.addData(("a", 0L, Seq(1, 1), chunk(1, 1)))
    out.processAllAvailable()
    // an at-least-once replay must not re-emit a completed position
    in.addData(("a", 0L, Seq(0, 0), chunk(0, 0)))
    out.processAllAvailable()
    out.stop()

    val got = spark.table("halo_out").as[HaloChunk].collect()
    assert(got.length == 4)
    val gotCells = got.flatMap { c =>
      c.data.zipWithIndex.map { case (v, idx) =>
        (2L * c.pos(0) + idx / 2, 2L * c.pos(1) + idx % 2) -> v
      }
    }.toMap
    val batchRows = (for (cr <- 0 to 1; cc <- 0 to 1)
      yield (0L, Seq(cr, cc), chunk(cr, cc))).toDF("timestep", "pos", "data")
    val want = ChunkedArray(batchRows, geom).stencilLaplacian().rows2d.collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(gotCells == want)
  }

  test("HaloStencil is bit-equal to the batch stencil on a 3-d field") {
    import graft.arrays.{ArrayGeometry, ChunkedArray}
    import graft.streaming.{HaloChunk, HaloStencil}
    implicit val sc = spark.sqlContext
    // a 2x2x2 grid of 2x2x2 chunks holding seeded two-decimal values:
    // with three axes the association of the neighbor sum shows in the
    // last bit of some cells, which integer 2-d data cannot reveal
    val geom = ArrayGeometry(Seq(2, 2, 2), Seq(2, 2, 2))
    val rnd = new scala.util.Random(7)
    val chunks = for (c0 <- 0 to 1; c1 <- 0 to 1; c2 <- 0 to 1)
      yield (Seq(c0, c1, c2), Seq.fill(8)((rnd.nextInt(20001) - 10000) / 100.0))
    val in = MemoryStream[(String, Long, Seq[Int], Seq[Double])]
    val q = HaloStencil.stencilChunks(in.toDF().toDF("name", "timestep", "pos", "data"), geom)
      .writeStream.format("memory").queryName("halo3d_out").outputMode(OutputMode.Append()).start()
    chunks.grouped(4).foreach { part =>
      in.addData(part.map { case (p, d) => ("a", 0L, p, d) }: _*)
      q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("halo3d_out").as[HaloChunk].collect().flatMap { c =>
      c.data.zipWithIndex.map { case (v, idx) =>
        Seq(2L * c.pos(0) + idx / 4, 2L * c.pos(1) + idx / 2 % 2, 2L * c.pos(2) + idx % 2) -> v
      }
    }.toMap
    val batchRows = chunks.map { case (p, d) => (0L, p, d) }.toDF("timestep", "pos", "data")
    val want = ChunkedArray(batchRows, geom).stencilLaplacian().rowsNd.collect()
      .map(r => Seq(r.getLong(1), r.getLong(2), r.getLong(3)) -> r.getDouble(4)).toMap
    assert(got.size == 64 && got.keySet == want.keySet)
    val bits = java.lang.Double.doubleToRawLongBits _
    val differ = want.keys.count(k => bits(got(k)) != bits(want(k)))
    assert(differ == 0, s"$differ of 64 cells differ from the batch stencil")
  }

  test("StreamingSessions merges disorder, bridges across batches, closes on timeout") {
    import graft.streaming.StreamingSessions
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val events = in.toDF().toDF("user_id", "ts")
    val q = StreamingSessions.sessions(events, delay = "1 hour")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append()).start()
    // UTC-epoch construction: Timestamp.valueOf would parse in the
    // JVM-default zone and break the fixed epoch math
    def at(h: Int, m: Int) =
      new Timestamp(java.time.Instant.parse(f"2024-01-01T$h%02d:$m%02d:00Z").toEpochMilli)
    // batch 1, SHUFFLED (within-batch disorder is unbounded): user 1
    // has fragments [00:00, 00:10] and [01:00] — 50 min apart, separate
    in.addData(new scala.util.Random(3).shuffle(
      Seq((1L, at(0, 0)), (1L, at(0, 10)), (1L, at(1, 0)))))
    q.processAllAvailable()
    // batch 2: a LATE event at 00:35 (>= watermark 00:00) lands BETWEEN
    // the fragments and bridges them into one 4-event session; user 2's
    // 03:00 pushes the watermark to 02:00 at batch end
    in.addData(Seq((1L, at(0, 35)), (2L, at(3, 0))))
    q.processAllAvailable()
    // batch 3: user 1 sends NOTHING — closure must ride the event-time
    // timeout (armed at 01:30, passed once user 2 pushes the watermark
    // to 02:00; processAllAvailable may already fire it via the no-data
    // follow-up batch Spark runs on watermark advance)
    in.addData(Seq((2L, at(3, 10))))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sess_out")
      .select("user_id", "session_start", "session_end", "n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, at(0, 0), at(1, 0), 4L)))
  }

  test("StreamingSessions splits on gap and emits sessions in order") {
    import graft.streaming.StreamingSessions
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val events = in.toDF().toDF("user_id", "ts")
    val q = StreamingSessions.sessions(events, delay = "30 minutes",
        idleTtlMs = 3600000L)
      .writeStream.format("memory").queryName("sess_split_out")
      .outputMode(OutputMode.Append()).start()
    def at(h: Int, m: Int) =
      new Timestamp(java.time.Instant.parse(f"2024-01-01T$h%02d:$m%02d:00Z").toEpochMilli)
    // three singleton sessions an hour apart (gap 30 min each side)
    in.addData(Seq((1L, at(0, 0)), (1L, at(1, 0)), (1L, at(2, 0))))
    q.processAllAvailable()
    // watermark advances past every end+gap as user 2 streams on; the
    // single timeout firing closes ALL eligible fragments, in order
    in.addData(Seq((2L, at(4, 0))))
    q.processAllAvailable()
    in.addData(Seq((2L, at(4, 10))))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sess_split_out")
      .select("user_id", "session_start", "n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, at(0, 0), 1L), (1L, at(1, 0), 1L), (1L, at(2, 0), 1L)))
  }

  test("StreamingFeatures.hashTf buckets windowed token volume like the batch face") {
    import graft.streaming.StreamingFeatures
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val docs = in.toDF().toDF("ts", "text")
    val q = StreamingFeatures.hashTf(docs)
      .writeStream.format("memory").queryName("htf_out")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), "aa bb aa"),
      (Timestamp.valueOf("2024-01-01 10:30:00"), "cc"))
    q.processAllAvailable()
    // close the 10:00 window
    in.addData((Timestamp.valueOf("2024-01-01 13:00:00"), "zz"))
    q.processAllAvailable()
    q.stop()
    // the batch face's hash verbatim: murmur3 over UTF-8 bytes (Spark's
    // native hash()), positive-mod into the bucket space
    def bucketOf(t: String): Long = {
      import org.apache.spark.sql.functions.{hash, lit, pmod}
      spark.range(1).select(pmod(hash(lit(t)), lit(64)).cast("bigint"))
        .head().getLong(0)
    }
    val got = spark.table("htf_out")
      .select("bucket", "n_tokens")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val want = Seq(bucketOf("aa") -> 2L, bucketOf("bb") -> 1L, bucketOf("cc") -> 1L)
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sorted
    assert(got.toSeq == want)
  }

  test("StreamingFeatures.slidingActives counts distinct users per sliding window") {
    import graft.streaming.StreamingFeatures
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val ev = in.toDF().toDF("ts", "user_id")
    // 2-day windows sliding daily, 1-hour lateness horizon
    val q = StreamingFeatures.slidingActives(ev,
        delay = "1 hour", windowLen = "2 days", slide = "1 day")
      .writeStream.format("memory").queryName("wau_out")
      .outputMode(OutputMode.Append()).start()
    in.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L),
      (Timestamp.valueOf("2024-01-01 11:00:00"), 1L), // same user, same day: dedup
      (Timestamp.valueOf("2024-01-02 10:00:00"), 2L))
    q.processAllAvailable()
    // advance the watermark far past every open window
    in.addData((Timestamp.valueOf("2024-01-10 10:00:00"), 9L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("wau_out")
      .select("win_start", "active_users")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).sortBy(_._1.getTime)
    // windows [12-31,1-2): {1}; [1-1,1-3): {1,2}; [1-2,1-4): {2}
    assert(got.toSeq == Seq(
      (Timestamp.valueOf("2023-12-31 00:00:00"), 1L),
      (Timestamp.valueOf("2024-01-01 00:00:00"), 2L),
      (Timestamp.valueOf("2024-01-02 00:00:00"), 1L)))
  }

  test("slidingActives == the batch ev_wau/ev_stickiness expansion on a shared fixture") {
    // ev_wau / ev_stickiness and StreamingFeatures.slidingActives share
    // one definition — distinct actives per trailing window — but until
    // this spec no gate tied them together (the HaloStencil /
    // StreamingNearDedup incremental-equals-batch loop, closed here):
    // batch wday w covers days [w-6, w], i.e. the sliding window with
    // win_start = w - 6; ev_stickiness's DAU numerator is the 1-day
    // window face of the same expansion.
    import graft.streaming.StreamingFeatures
    implicit val sc = spark.sqlContext
    val rnd = new scala.util.Random(8311L)
    val base = Timestamp.valueOf("2024-03-01 00:00:00").getTime
    val rows = (0 until 200).map { _ =>
      val ms = base + rnd.nextInt(20) * 86400000L + rnd.nextInt(86400000)
      (new Timestamp(ms), rnd.nextInt(12).toLong)
    }
    def run(name: String, windowLen: String): Map[Timestamp, Long] = {
      val in = MemoryStream[(Timestamp, Long)]
      val q = StreamingFeatures.slidingActives(in.toDF().toDF("ts", "user_id"),
          delay = "1 hour", windowLen = windowLen, slide = "1 day")
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      // one batch: arbitrary internal order, nothing late vs the
      // initial watermark; then a far-future sentinel closes all windows
      in.addData(rows)
      q.processAllAvailable()
      in.addData((new Timestamp(base + 365L * 86400000L), 999L))
      q.processAllAvailable()
      q.stop()
      spark.table(name)
        .filter(col("win_start") < new Timestamp(base + 40L * 86400000L))
        .select("win_start", "active_users")
        .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toMap
    }
    val wau = run("wau_eq", "7 days")
    val dau = run("dau_eq", "1 day")
    // the batch expansion (ev_wau's du -> explode -> distinct -> count,
    // minus its active-day filter: streaming emits EVERY window with
    // >= 1 active user) on the same fixture
    val du = rows.toDF("ts", "user_id")
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val wantWau = du
      .select(explode(sequence(col("day"), date_add(col("day"), 6))).as("wday"),
        col("user_id"))
      .distinct().groupBy("wday").agg(count(lit(1)).as("wau"))
      .collect().map { r =>
        val start = r.getDate(0).toLocalDate.minusDays(6).atStartOfDay()
        Timestamp.valueOf(start) -> r.getLong(1)
      }.toMap
    val wantDau = du.groupBy("day").agg(count(lit(1)).as("dau"))
      .collect().map { r =>
        Timestamp.valueOf(r.getDate(0).toLocalDate.atStartOfDay()) -> r.getLong(1)
      }.toMap
    assert(wau == wantWau)
    assert(dau == wantDau)
    // and the batch ev_wau itself is the active-day-filtered subset:
    // every (active day d, wau) pair appears as the window starting d-6
    val activeDays = du.select("day").distinct().collect()
      .map(r => Timestamp.valueOf(r.getDate(0).toLocalDate.minusDays(6).atStartOfDay()))
    assert(activeDays.forall(wau.contains))
  }

  test("StreamingSimilarity.annFlags scores ≡ the batch IVFADC search on a shared fixture") {
    import java.sql.Timestamp
    import graft.streaming.StreamingSimilarity
    import graft.operators.Similarity
    implicit val sc = spark.sqlContext

    // 16 deterministic dim-64 vectors; the model is the fixed-posture
    // construction (first-8 centroids, first-8 codeword sources)
    val dim = 64
    def vec(i: Int): IndexedSeq[Double] =
      IndexedSeq.tabulate(dim)(d => (((i * 31 + d * 7) % 13) - 6) / 4.0)
    val vecs = (0 until 16).map(i => (i.toLong, vec(i)))
    val cents = (0 until 8).map(i => vec(i))
    val sub = dim / 4
    val codebook = (0 until 4).map(m => (0 until 8).map(j =>
      vec(j).slice(m * sub, (m + 1) * sub)))

    val e = vecs.toDF("vec_id", "emb")
    val assigned = e
      .withColumn("cluster", Similarity.trainedAssignCol(cents))
      .select(col("vec_id"), col("emb"), col("cluster"))
    val enc = Similarity.encodeIvfpq(assigned, cents, codebook)
    val batch = Similarity.ivfpqSearch(assigned, cents, codebook)
      .select("probe_id", "vec_id", "approx_cos", "rk")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(batch.nonEmpty, "fixture produced no batch neighbors")

    // the same 5 probes arrive as a stream across two batches (one late
    // but in-horizon row must merge into the open window, not fork it)
    val in = MemoryStream[(Timestamp, Long, Seq[Double])]
    val stream = in.toDF().toDF("ts", "probe_id", "emb")
    val q = StreamingSimilarity.annFlags(stream, enc, cents, codebook, k = 5)
      .writeStream.format("memory").queryName("ann_flags_out")
      .outputMode(OutputMode.Append()).start()
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    in.addData((0 until 3).map(i => (t0, i.toLong, vec(i).toSeq)): _*)
    q.processAllAvailable()
    in.addData((3 until 5).map(i =>
      (Timestamp.valueOf("2024-01-01 10:30:00"), i.toLong, vec(i).toSeq)): _*)
    q.processAllAvailable()
    // advance the watermark past 11:00 + delay to close the window
    in.addData((Timestamp.valueOf("2024-01-01 13:00:00"), 99L, vec(0).toSeq))
    q.processAllAvailable()
    q.stop()

    val stream0 = spark.table("ann_flags_out")
      .filter(col("win_start") === lit(t0))
      .select("probe_id", "vec_id", "approx_cos", "rk")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    // bit-exact: same routing, same ADC tables, same score expressions
    assert(stream0 == batch,
      s"stream-vs-batch divergence: only-stream=${stream0 -- batch}, only-batch=${batch -- stream0}")
  }
}
