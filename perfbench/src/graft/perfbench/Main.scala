package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.VectorMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line options; see perfbench/README.md. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    sf: String = "sf0.01",
    maxTimesteps: Long = Long.MaxValue,
    expected: Option[String] = None,
    corrupt: Boolean = false,
    record: Option[String] = None,
    commit: String = "unknown",
    home: String = "perfbench") {
  def dataDir: String = s"$home/data/$sf"
  def outDir: String = s"$home/out"
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Opts(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toInt,
      trace = need("trace") == "1",
      sf = kv.getOrElse("sf", "sf0.01"),
      maxTimesteps = kv.get("max-timesteps").map(_.toLong).getOrElse(Long.MaxValue),
      expected = kv.get("expected"),
      corrupt = kv.get("corrupt").contains("1"),
      record = kv.get("record"),
      commit = kv.getOrElse("commit", "unknown"),
      home = kv.getOrElse("home", "perfbench"))
  }
}

/** What a workload hands back to [[Main]].
  *
  * @param attempted  operations attempted (timesteps pushed, queries run)
  * @param failures   each failed operation by name, with the reason
  * @param ops        operations completed inside the timed window
  * @param window     timed window, span clock (ns)
  * @param latMs      latency samples from the window: one per timestep
  *                   (loops), one per query, its median execution (batch)
  * @param setupS     set-up seconds (session start included)
  * @param memoryMb   state-store (loops) or cache (batch) memory held
  * @param named      the workload's metrics under their own names
  * @param layers     workload-layer metrics from the bench's spans (ms, counts) */
final case class Outcome(
    attempted: Long,
    failures: Vector[String],
    ops: Long,
    window: (Long, Long),
    latMs: Vector[Double],
    setupS: Double,
    memoryMb: Double,
    named: VectorMap[String, Any],
    layers: VectorMap[String, Double])

final case class Ctx(spark: SparkSession, tracer: Tracer, probe: Option[Probe], opts: Opts,
    cores: Int, sessionS: Double)

object Main {
  val Workloads: Seq[String] = Seq("loop_scalar", "loop_payload", "arrays_batch", "corpus_batch")

  /** Per-layer metrics printed by a traced run, in order, with units.
    * Layer times that only some workloads have are printed as their share
    * of the timed window (0 where the layer does not run); the artifact
    * carries the same numbers in milliseconds. */
  val PerLayer: Seq[(String, String)] = Seq(
    "producer.push_share" -> "frac", "producer.blocked_share" -> "frac",
    "producer.backlog_max" -> "count", "producer.mb" -> "MB",
    "streaming.batches" -> "count", "streaming.ts_per_batch" -> "count",
    "streaming.trigger_share" -> "frac", "streaming.add_batch_share" -> "frac",
    "streaming.query_planning_share" -> "frac", "streaming.wal_commit_share" -> "frac",
    "streaming.commit_offsets_share" -> "frac", "streaming.get_batch_share" -> "frac",
    "streaming.input_rows" -> "count", "streaming.state_commit_share" -> "frac",
    "streaming.state_rows" -> "count", "streaming.state_mb" -> "MB",
    "streaming.state_rows_updated" -> "count", "streaming.state_rows_removed" -> "count",
    "callback.on_timestep_share" -> "frac", "callback.prepare_share" -> "frac",
    "arrays.op_share" -> "frac", "arrays.sink_share" -> "frac",
    "sources.input_mb" -> "MB",
    "operators.build_share" -> "frac", "operators.exec_share" -> "frac",
    "plan.optimization_ms" -> "ms", "plan.planning_ms" -> "ms",
    "plan.aqe_replans" -> "count",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.driver_gap_ms" -> "ms",
    "exec.run_ms" -> "ms", "exec.cpu_ms" -> "ms", "exec.deser_ms" -> "ms",
    "exec.busy_frac" -> "frac",
    "shuffle.exchanges" -> "count", "shuffle.write_mb" -> "MB", "shuffle.read_mb" -> "MB",
    "spill.mb" -> "MB",
    "cache.mb" -> "MB", "cache.scans" -> "count", "cache.builds" -> "count",
    "cache.reuse_ratio" -> "frac",
    "tasks.failed" -> "count", "tasks.retried" -> "count", "queries.failed" -> "count",
    "timesteps.missing" -> "count", "timesteps.wrong" -> "count")

  val EndToEnd: Seq[(String, String)] = Seq(
    "ops_per_s" -> "1/s", "op_p50_ms" -> "ms", "op_p90_ms" -> "ms",
    "setup_s" -> "s", "memory_mb" -> "MB")

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    require(opts.record.nonEmpty || Workloads.contains(opts.workload),
      s"unknown workload ${opts.workload}; one of ${Workloads.mkString(", ")}")
    require(Files.isDirectory(Paths.get(opts.dataDir)), s"missing data dir ${opts.dataDir}")
    val stamp = Stamp.begin()
    val tracer = new Tracer(opts.trace)
    // Half the cores: measured at local[nproc] on a shared 4-core box, CPU
    // burned by other tenants (0.1-0.6 cores) reached the measured threads
    // and spread ten runs by 20-40% (IQR over median); the other half is
    // headroom for them.
    val cores = math.max(1, Runtime.getRuntime.availableProcessors() / 2)
    val t0 = System.nanoTime()
    val spark = tracer.time("setup", "session.start") { _ =>
      graft.Bench.measurementSession(cores.toString, cores)
    }
    val sessionS = (System.nanoTime() - t0) / 1e9
    val probe = if (opts.trace) Some(new Probe(spark, tracer)) else None
    val ctx = Ctx(spark, tracer, probe, opts, cores, sessionS)

    if (opts.record.isDefined) {
      val ok = Batch.record(ctx, opts.record.get)
      spark.stop()
      sys.exit(if (ok) 0 else 1)
    }

    val ran = opts.workload match {
      case "loop_scalar" => Loops.scalar(ctx)
      case "loop_payload" => Loops.payload(ctx)
      case "arrays_batch" => Batch.run(ctx, Batch.arraysQueries, Seq("events"), memos = true)
      case "corpus_batch" => Batch.run(ctx, Batch.corpusQueries, graft.sources.Tables.names,
        memos = false)
    }
    val out = if (ran.latMs.nonEmpty) ran
      else ran.copy(failures = ran.failures :+ "timed window: no operation completed")

    val (lo, hi) = out.window
    val windowMs = (hi - lo) / 1e6
    val e2e = VectorMap(
      "ops_per_s" -> out.ops / (windowMs / 1000.0),
      "op_p50_ms" -> Stats.pct(out.latMs, 0.50),
      "op_p90_ms" -> Stats.pct(out.latMs, 0.90),
      "setup_s" -> out.setupS,
      "memory_mb" -> out.memoryMb)
    val failedFrac = out.failures.size.toDouble / math.max(1L, out.attempted)

    val layers: VectorMap[String, Double] = probe match {
      case None => VectorMap.empty
      case Some(p) =>
        val spark0 = p.layers(lo, hi, cores)
        val fails = VectorMap(
          "queries.failed" -> out.failures.count(_.startsWith("query ")).toDouble,
          "timesteps.missing" -> out.failures.count(_.contains("missing")).toDouble,
          "timesteps.wrong" -> out.failures.count(f => f.startsWith("timestep ") &&
            !f.contains("missing")).toDouble)
        spark0 ++ out.layers ++ fails
    }
    val printed: VectorMap[String, (Double, String)] =
      if (!opts.trace) VectorMap.from(EndToEnd.map { case (n, u) => n -> (e2e(n), u) })
      else VectorMap.from(PerLayer.map { case (n, u) =>
        val v = if (n.endsWith("_share")) {
          val base = n.stripSuffix("_share")
          layers.getOrElse(base + "_ms", 0.0) / math.max(windowMs, 1e-9)
        } else layers.getOrElse(n, 0.0)
        n -> (v, u)
      })

    // artifact: everything a reader needs to explain the run
    Files.createDirectories(Paths.get(opts.outDir))
    val tag = s"${opts.workload}-s${opts.seed}"
    val spansFile = s"${opts.outDir}/$tag.spans.jsonl"
    val table: VectorMap[String, Any] = if (!opts.trace) VectorMap.empty else {
      probe.get.emitSpans(tracer.roots.asScala.toMap)
      val spans = tracer.spans
      writeSpans(Paths.get(spansFile), spans)
      VectorMap(
        "layers_ms" -> layers,
        "self_time" -> Tracer.layerTable(spans, lo, hi),
        // the r22 question: driver time between jobs (planning included)
        // against wall time with a job running and task time inside jobs
        "driver_vs_executor_ms" -> VectorMap(
          "driver_between_jobs" -> layers.getOrElse("sched.driver_gap_ms", 0.0),
          "of_which_planning" -> Seq("plan.analysis_ms", "plan.optimization_ms",
            "plan.planning_ms").map(layers.getOrElse(_, 0.0)).sum,
          "in_jobs_wall" -> layers.getOrElse("sched.job_busy_ms", 0.0),
          "in_jobs_task_run" -> layers.getOrElse("exec.run_ms", 0.0)),
        "tracing_overhead" -> overhead(opts, e2e),
        "spans_file" -> spansFile,
        "spans" -> tracer.spans.size)
    }
    val artifact = VectorMap[String, Any](
      "workload" -> opts.workload, "seed" -> opts.seed, "seconds" -> opts.seconds,
      "trace" -> opts.trace, "data" -> opts.dataDir,
      "stamp" -> (stamp.end() ++ VectorMap("commit" -> opts.commit,
        "spark_version" -> spark.version)),
      "correct" -> out.failures.isEmpty,
      "attempted" -> out.attempted, "failed" -> out.failures.size,
      "failed_frac" -> failedFrac, "failures" -> out.failures,
      "end_to_end" -> e2e, "named" -> out.named,
      "window_s" -> windowMs / 1000.0, "samples" -> out.latMs.size,
      "latencies_ms" -> out.latMs,
      "session_s" -> sessionS) ++ table
    Files.writeString(Paths.get(s"${opts.outDir}/$tag-t${if (opts.trace) 1 else 0}.json"),
      Json(artifact) + "\n")

    probe.foreach(_.close())
    spark.stop()
    System.err.println(s"[perfbench] ${opts.workload}: " +
      out.named.map { case (k, v) => s"$k=$v" }.mkString(" "))
    out.failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    println(Json(VectorMap(
      "correct" -> out.failures.isEmpty,
      "attempted" -> out.attempted,
      "failed" -> out.failures.size,
      "metrics" -> printed.map { case (n, (v, u)) => n -> VectorMap("value" -> v, "unit" -> u) })))
    System.out.flush()
    sys.exit(if (out.failures.isEmpty) 0 else 1)
  }

  private def writeSpans(p: Path, spans: Vector[Span]): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.start).foreach { s =>
      sb.append(Json(VectorMap("trace" -> s.trace, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end, "ms" -> s.ms) ++ s.attrs))
        .append('\n')
    }
    Files.writeString(p, sb.toString)
  }

  /** Traced minus untraced end-to-end numbers, against the latest untraced
    * artifact of the same workload and seed in the output dir. */
  private def overhead(opts: Opts, traced: VectorMap[String, Double]): Any = {
    val f = Paths.get(s"${opts.outDir}/${opts.workload}-s${opts.seed}-t0.json")
    if (!Files.exists(f)) "no untraced run of this workload and seed to compare"
    else try {
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(f.toFile).get("end_to_end")
      VectorMap.from(traced.map { case (k, v) => k -> (v - node.get(k).asDouble()) })
    } catch { case e: Exception => s"unreadable: ${e.getMessage}" }
  }
}

/** Contention stamp: cores, heap, and the CPU that processes other than
  * this one burned over the run (Bench's `ext_cores` method: busy jiffies
  * from /proc/stat minus this process's utime+stime, per wall second). */
final class Stamp private (busy0: Long, self0: Long, wall0: Long) {
  def end(): VectorMap[String, Any] = {
    val (busy1, self1) = Stamp.sample()
    val wallS = (System.nanoTime() - wall0) / 1e9
    val tck = sys.props.get("perfbench.clk_tck").map(_.toDouble).getOrElse(100.0)
    val ext =
      if (busy0 < 0 || busy1 < 0 || wallS <= 0) None
      else Some(math.max(0.0, ((busy1 - busy0) - (self1 - self0)) / tck / wallS))
    VectorMap(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "ext_cores" -> ext,
      "loadavg" -> Stamp.loadavg(),
      "wall_s" -> wallS)
  }
}

object Stamp {
  def begin(): Stamp = {
    val (b, s) = sample()
    new Stamp(b, s, System.nanoTime())
  }
  private def sample(): (Long, Long) =
    try {
      val stat = Files.readString(Paths.get("/proc/stat")).linesIterator.next()
        .trim.split("\\s+").drop(1).map(_.toLong)
      val busy = stat.sum - stat(3) - (if (stat.length > 4) stat(4) else 0L)
      val self = Files.readString(Paths.get("/proc/self/stat"))
      val after = self.substring(self.lastIndexOf(')') + 2).split(" ")
      (busy, after(11).toLong + after(12).toLong)
    } catch { case _: Throwable => (-1L, -1L) }
  private def loadavg(): Option[Double] =
    try Some(Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble)
    catch { case _: Throwable => None }
}
