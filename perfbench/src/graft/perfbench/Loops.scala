package graft.perfbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap

import scala.collection.immutable.VectorMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoder, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.arrays.ArrayGeometry
import graft.streaming.{ArrayDef, Simulation}

/** The paper's in-situ loop: simulation ranks push one chunk per array
  * per timestep into a MemoryStream, graft assembles the timesteps, and
  * a callback runs per completed timestep. One producer thread drives it
  * closed-loop: it never has more than [[Pending]] timesteps pushed but
  * not yet fully called back (doreisa's `max_pending_arrays`).
  *
  * Every chunk value has two decimals, so the expected per-timestep
  * totals are exact integer cents, computed by the generator alone. */
object Loops {
  val Ranks = 16
  val Pending = 4
  /** Timesteps run to completion in each set-up repetition. */
  val Warmup = 4
  val SetupReps = 3

  /** Closed-loop bookkeeping of one running query: which timesteps are
    * pushed, which callbacks arrived, and when. */
  final class Book(val callbacksPerTs: Int, tracer: Tracer) {
    private val lock = new Object
    private var pushed = 0L
    private var completed = 0L
    private val outstanding = new ConcurrentHashMap[Long, Int]()
    private val seen = ConcurrentHashMap.newKeySet[String]()
    val firstPush = new ConcurrentHashMap[Long, Long]()
    val lastPush = new ConcurrentHashMap[Long, Long]()
    val done = new ConcurrentHashMap[Long, Long]()
    val wrong = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    var backlogMax = 0L

    def rootOf(t: Long): Long = tracer.roots.computeIfAbsent(s"ts:$t", _ => tracer.newId())

    def open(t: Long): Unit = lock.synchronized {
      outstanding.put(t, callbacksPerTs)
      pushed += 1
      backlogMax = math.max(backlogMax, pushed - completed)
    }

    /** One callback for timestep `t` (of array `name`) arrived. */
    def called(name: String, t: Long): Unit = lock.synchronized {
      if (!seen.add(s"$name@$t")) wrong.add(s"timestep $t: duplicate callback for $name")
      else Option(outstanding.get(t)) match {
        case None => wrong.add(s"timestep $t: callback for $name before its chunks were pushed")
        case Some(n) if n > 1 => outstanding.put(t, n - 1)
        case Some(_) =>
          outstanding.remove(t)
          val now = System.nanoTime()
          done.put(t, now)
          completed += 1
          tracer.add(s"ts:$t", "timestep", 0L, firstPush.get(t), now, id = rootOf(t))
          lock.notifyAll()
      }
    }

    /** Block until fewer than `p` timesteps are pending (or `stop`). */
    def awaitRoom(p: Int, stop: => Boolean): Unit = lock.synchronized {
      while (pushed - completed >= p && !stop) lock.wait(50)
    }

    /** Block until every pushed timestep completed; false on timeout. */
    def awaitAll(timeoutMs: Long): Boolean = lock.synchronized {
      val end = System.currentTimeMillis() + timeoutMs
      while (completed < pushed && System.currentTimeMillis() < end) lock.wait(50)
      completed == pushed
    }

    def pending: Seq[Long] = outstanding.keySet().asScala.toSeq.sorted
  }

  /** Pushes timesteps `next until until` closed-loop; each rank's chunks
    * of a timestep go in one `addData` call. */
  final class Producer[A](name: String, gen: Long => Seq[Seq[A]], push: Seq[A] => Unit,
      book: Book, tracer: Tracer, val bytesPerTs: Long) extends Thread(name) {
    @volatile var halt = false
    @volatile var next = 0L
    @volatile var until = 0L
    @volatile var error: Option[Throwable] = None
    val pushes = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)] // (t, start, end)
    setDaemon(true)

    override def run(): Unit =
      try {
        while (!halt && next < until) {
          val t = next
          val b0 = System.nanoTime()
          book.awaitRoom(Pending, halt)
          val b1 = System.nanoTime()
          tracer.add(s"ts:$t", "producer.blocked", 0L, b0, b1)
          if (!halt) {
            val ranks = gen(t)
            book.open(t)
            val root = book.rootOf(t)
            ranks.foreach { chunks =>
              val s = System.nanoTime()
              book.firstPush.putIfAbsent(t, s)
              push(chunks)
              val e = System.nanoTime()
              book.lastPush.put(t, e)
              tracer.add(s"ts:$t", "producer.push", root, s, e)
              pushes.add((t, s, e))
            }
            next = t + 1
          }
        }
      } catch { case e: Throwable => error = Some(e) }

    /** Push `[next, n)` from the calling thread. */
    def runTo(n: Long): Unit = { until = n; run() }
  }

  /** One running loop: stream, query, bookkeeping, producer. */
  private final class Instance[A](val query: StreamingQuery, val book: Book,
      val producer: Producer[A])

  /** Set up `SetupReps` times (fresh stream, query and state each time,
    * running `Warmup` timesteps to completion), keep the last instance,
    * let it run `settle` more timesteps, then measure it for `seconds`.
    * `settle` is sized so the JIT has compiled most of the loop's hot
    * paths before the window opens: after 8 timesteps, the compiler
    * threads still burned most of a core inside the window and
    * loop_scalar's latency fell by a quarter from the window's first
    * quarter to its last; loop_payload's batch time kept falling for about
    * 40 batches of 4 timesteps. `setup_s` is the session start plus the
    * median repetition plus the settle run. */
  private def drive[A](ctx: Ctx, mk: () => Instance[A], settle: Int,
      params: VectorMap[String, Any]): Outcome = {
    val tr = ctx.tracer
    val failures = Vector.newBuilder[String]
    var attempted = 0L
    def finish(inst: Instance[A], label: String): Unit = {
      if (!inst.book.awaitAll(60000L))
        inst.book.pending.foreach(t => failures += s"timestep $t ($label): missing callbacks")
      inst.book.wrong.asScala.foreach(w => failures += s"$w ($label)")
      inst.producer.error.foreach(e => failures += s"producer ($label): $e")
      inst.query.exception.foreach(e => failures += s"query ($label) terminated: ${e.getMessage.take(300)}")
      attempted += inst.producer.next
    }
    var inst: Instance[A] = null
    val reps = (1 to SetupReps).map { rep =>
      val s = System.nanoTime()
      tr.time("setup", "setup.rep") { _ =>
        inst = mk()
        inst.producer.runTo(math.min(Warmup.toLong, ctx.opts.maxTimesteps))
        if (!inst.book.awaitAll(120000L)) failures += s"timestep set-up $rep: warm-up did not complete"
      }
      val sec = (System.nanoTime() - s) / 1e9
      if (rep < SetupReps) {
        finish(inst, s"set-up $rep")
        inst.query.stop()
      }
      sec
    }
    val settle0 = System.nanoTime()
    tr.time("setup", "setup.settle") { _ =>
      // a run capped by --max-timesteps keeps half its timesteps for the window
      inst.producer.runTo(math.min(Warmup.toLong + settle, ctx.opts.maxTimesteps / 2))
      if (!inst.book.awaitAll(120000L)) failures += "timestep settle: did not complete"
    }
    val settleS = (System.nanoTime() - settle0) / 1e9
    // memory_mb: the state store after the set-up's fixed number of
    // timesteps, all completed. Inside the window it depends on how many
    // timesteps the run got through (every completed timestep leaves a
    // marker in state) and on where batch cuts fall: the maximum over the
    // window's batches spread by 28% over five runs. Both are in the artifact.
    inst.query.processAllAvailable()
    val settledStateMb = inst.query.recentProgress.filter(_.numInputRows > 0).maxByOption(_.batchId)
      .map(_.stateOperators.map(_.memoryUsedBytes).sum).getOrElse(0L) / Probe.MB
    val setupS = ctx.sessionS + Stats.median(reps) + settleS

    // timed window: the producer thread runs free (closed loop) for `seconds`
    val p = inst.producer
    p.until = ctx.opts.maxTimesteps
    val lo = System.nanoTime()
    p.start()
    val deadline = lo + ctx.opts.seconds * 1000000000L
    while (System.nanoTime() < deadline && p.isAlive) Thread.sleep(5)
    val end = math.min(System.nanoTime(), deadline)
    // state-store memory of the window's micro-batches, for the artifact
    val stateMbs = inst.query.recentProgress.toVector
      .filter(pr => tr.fromWallMs(java.time.Instant.parse(pr.timestamp).toEpochMilli) >= lo)
      .map(_.stateOperators.map(_.memoryUsedBytes).sum / Probe.MB)
    p.halt = true
    p.join()
    finish(inst, "timed")
    inst.query.stop()

    // the window closes at its last completion, so the rate counts whole
    // micro-batches only
    val book = inst.book
    val inWin = book.done.asScala.filter { case (_, d) => d >= lo && d <= end }.keys.toVector.sorted
    val hi = if (inWin.isEmpty) end else inWin.map(t => book.done.get(t)).max
    val lat = inWin.map(t => (book.done.get(t) - book.lastPush.get(t)) / 1e6)
    val fails = failures.result()
    val winS = (hi - lo) / 1e9
    val pushesIn = p.pushes.asScala.filter { case (_, s, e) => s >= lo && e <= hi }
    val tsPushed = pushesIn.map(_._1).toSet.size
    val spans = tr.spans.filter(s => s.end > lo && s.start < hi)
    def spanMs(n: String) = spans.filter(_.name == n)
      .map(s => (math.min(s.end, hi) - math.max(s.start, lo)) / 1e6).sum
    val prog = ctx.probe.map(_.progressIn(lo, hi)).getOrElse(Vector.empty)
    def dur(k: String) = prog.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    val batches = prog.count(_.inputRows > 0)
    Outcome(
      attempted = attempted,
      failures = fails,
      ops = inWin.size,
      window = (lo, hi),
      latMs = lat,
      setupS = setupS,
      memoryMb = settledStateMb,
      named = VectorMap(
        "timesteps_per_s" -> inWin.size / winS,
        "ts_latency_p50_ms" -> Stats.pct(lat, 0.5),
        "ts_latency_p95_ms" -> Stats.pct(lat, 0.95),
        "ts_latency_samples" -> lat.size,
        "state_mb" -> settledStateMb,
        "state_mb_window_median" -> (if (stateMbs.isEmpty) 0.0 else Stats.median(stateMbs)),
        "state_mb_window_max" -> stateMbs.maxOption.getOrElse(0.0),
        "setup_s" -> setupS, "setup_reps_s" -> reps, "settle_s" -> settleS,
        "settle_timesteps" -> settle,
        "failed_frac" -> fails.size.toDouble / math.max(1L, attempted),
        "failed_base" -> attempted) ++ params,
      layers = VectorMap(
        "producer.push_ms" -> spanMs("producer.push"),
        "producer.blocked_ms" -> spanMs("producer.blocked"),
        "producer.backlog_max" -> book.backlogMax.toDouble,
        "producer.mb" -> tsPushed * p.bytesPerTs / Probe.MB,
        "streaming.batches" -> batches.toDouble,
        "streaming.ts_per_batch" -> (if (batches > 0) inWin.size.toDouble / batches else 0.0),
        "streaming.trigger_ms" -> dur("triggerExecution"),
        "streaming.add_batch_ms" -> dur("addBatch"),
        "streaming.query_planning_ms" -> dur("queryPlanning"),
        "streaming.wal_commit_ms" -> dur("walCommit"),
        "streaming.commit_offsets_ms" -> dur("commitOffsets"),
        "streaming.get_batch_ms" -> dur("getBatch"),
        "streaming.input_rows" -> prog.map(_.inputRows).sum.toDouble,
        "streaming.state_commit_ms" -> prog.map(_.stateCommitMs).sum.toDouble,
        "streaming.state_rows" -> prog.lastOption.map(_.stateRows).getOrElse(0L).toDouble,
        "streaming.state_mb" -> prog.lastOption.map(_.stateBytes).getOrElse(0L) / Probe.MB,
        "streaming.state_rows_updated" -> prog.map(_.stateUpdated).sum.toDouble,
        "streaming.state_rows_removed" -> prog.map(_.stateRemoved).sum.toDouble,
        "callback.on_timestep_ms" -> spanMs("callback.on_timestep"),
        "callback.prepare_ms" -> spanMs("callback.prepare"),
        "arrays.op_ms" -> spanMs("arrays.op"),
        "arrays.sink_ms" -> spanMs("arrays.sink")))
  }

  private def rng(seed: Long, parts: Long*): SplittableRandom =
    new SplittableRandom(parts.foldLeft(seed * 0x9E3779B97F4A7C15L)((h, x) => (h ^ x) * 0xBF58476D1CE4E5B9L))

  /** Two-decimal values in [-100, 100], as cents. */
  private def cents(r: SplittableRandom, n: Int): Array[Long] =
    Array.fill(n)(r.nextLong(-10000L, 10001L))

  private def matches(v: Double, c: Long): Boolean = math.round(v * 100) == c

  type ScalarRow = (String, Long, Int, Seq[Double])

  /** `loop_scalar`: three arrays per timestep through
    * `Simulation.runWindowsPrepared` (preparation advance 2): `temp`
    * (window 1, ingest preprocess x10), `pres` (window 2), `vel`
    * (window 3); 16 ranks, 256-element chunks. */
  def scalar(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val chunk = 256
    val defs = Seq(
      ArrayDef("temp", windowSize = 1, preprocess = _ * 10),
      ArrayDef("pres", windowSize = 2),
      ArrayDef("vel", windowSize = 3))
    val scale = Map("temp" -> 10L, "pres" -> 1L, "vel" -> 1L)
    val win = defs.map(d => d.name -> d.windowSize).toMap
    val names = defs.map(_.name)
    import spark.implicits._
    val enc = implicitly[Encoder[ScalarRow]]
    def mk(): Instance[ScalarRow] = {
      val totals = new ConcurrentHashMap[(String, Long), Long]()
      val prepared = ConcurrentHashMap.newKeySet[Long]()
      val book = new Book(names.size, tr)
      val stream = MemoryStream.apply[ScalarRow](enc, spark.sqlContext)
      val chunks = stream.toDF().toDF("name", "timestep", "nbChunks", "data")
      val q = Simulation.runWindowsPrepared(chunks, defs,
        prepare = t => tr.time(s"ts:$t", "callback.prepare") { _ => prepared.add(t) },
        advance = 2,
        onTimestep = (name, t, window) =>
          tr.time(s"ts:$t", "callback.on_timestep", book.rootOf(t)) { _ =>
            val k = win(name)
            val want = (math.max(t - k + 1, 0L) to t).map { i =>
              val c = totals.get((name, i))
              if (ctx.opts.corrupt && name == "pres" && i == 3L) c + 1 else c
            }
            if (!prepared.contains(t + 2))
              book.wrong.add(s"timestep $t: callback for $name ran before prepare(${t + 2})")
            if (window.size != want.size || !window.zip(want).forall { case (v, c) => matches(v, c) })
              book.wrong.add(s"timestep $t: $name window ${window.mkString(",")} != " +
                want.map(c => BigDecimal(c, 2).toString).mkString(","))
            book.called(name, t)
          })
      def gen(t: Long): Seq[Seq[ScalarRow]] = {
        val perRank = (0 until Ranks).map { r =>
          names.map { n =>
            val cs = cents(rng(ctx.opts.seed, t, r, n.hashCode.toLong), chunk)
            (n, cs.sum * scale(n), (n, t, Ranks, cs.toSeq.map(_ / 100.0)))
          }
        }
        names.foreach(n => totals.put((n, t), perRank.flatten.filter(_._1 == n).map(_._2).sum))
        perRank.map(_.map(_._3))
      }
      val producer = new Producer[ScalarRow]("producer", gen, rows => { stream.addData(rows); () },
        book, tr, Ranks.toLong * names.size * chunk * 8)
      new Instance(q, book, producer)
    }
    drive(ctx, () => mk(), settle = 64, VectorMap(
      "ranks" -> Ranks, "chunk_elems" -> chunk, "arrays" -> names, "pending" -> Pending))
  }

  type PayloadRow = (String, Long, Int, Seq[Int], Seq[Double])

  /** `loop_payload`: one 256x256 array of doubles per timestep as a 4x4
    * grid of 64x64 chunks (one chunk per rank, ~0.5 MB per timestep)
    * through `Simulation.runArrayOp` with
    * `op = stencilLaplacian().sumPerTimestep()`. The expected value is
    * the zero-boundary Laplacian summed over the field, in cents. */
  def payload(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val grid = 4
    val side = 64
    val n = grid * side
    val geom = ArrayGeometry(Seq(grid, grid), Seq(side, side))
    import spark.implicits._
    val enc = implicitly[Encoder[PayloadRow]]
    def mk(): Instance[PayloadRow] = {
      val expected = new ConcurrentHashMap[Long, Long]()
      val book = new Book(1, tr)
      val stream = MemoryStream.apply[PayloadRow](enc, spark.sqlContext)
      val chunks = stream.toDF().toDF("name", "timestep", "nbChunks", "pos", "data")
      @volatile var opSpan = (0L, 0L)
      val q = Simulation.runArrayOp(chunks, "field", geom,
        op = arr => {
          val s = System.nanoTime()
          val df = arr.stencilLaplacian().sumPerTimestep()
          opSpan = (s, System.nanoTime())
          df
        },
        sink = (df: DataFrame, batchId: Long) => {
          val mb = s"mb:$batchId"
          tr.add(mb, "arrays.op", 0L, opSpan._1, opSpan._2)
          val rows: Array[Row] = tr.time(mb, "arrays.sink") { _ => df.collect() }
          rows.foreach { r =>
            val t = r.getLong(0)
            tr.time(s"ts:$t", "callback.on_timestep", book.rootOf(t)) { _ =>
              val c = expected.get(t)
              val want = if (ctx.opts.corrupt && t == 3L) c + 1 else c
              if (!matches(r.getDouble(1), want))
                book.wrong.add(s"timestep $t: laplacian sum ${r.getDouble(1)} != ${BigDecimal(want, 2)}")
              book.called("field", t)
            }
          }
        })
      def gen(t: Long): Seq[Seq[PayloadRow]] = {
        val r = rng(ctx.opts.seed, t)
        val a = Array.fill(n * n)(r.nextLong(-10000L, 10001L))
        def at(i: Int, j: Int) = if (i < 0 || j < 0 || i >= n || j >= n) 0L else a(i * n + j)
        var lap = 0L
        var i = 0
        while (i < n) {
          var j = 0
          while (j < n) {
            lap += 4 * at(i, j) - at(i - 1, j) - at(i + 1, j) - at(i, j - 1) - at(i, j + 1)
            j += 1
          }
          i += 1
        }
        expected.put(t, lap)
        for (cr <- 0 until grid; cc <- 0 until grid) yield {
          val data = for (li <- 0 until side; lj <- 0 until side)
            yield a((cr * side + li) * n + cc * side + lj) / 100.0
          Seq(("field", t, grid * grid, Seq(cr, cc), data))
        }
      }
      val producer = new Producer[PayloadRow]("producer", gen, rows => { stream.addData(rows); () },
        book, tr, n.toLong * n * 8)
      new Instance(q, book, producer)
    }
    drive(ctx, () => mk(), settle = 40, VectorMap(
      "ranks" -> grid * grid, "chunk_shape" -> Seq(side, side), "pending" -> Pending))
  }
}
