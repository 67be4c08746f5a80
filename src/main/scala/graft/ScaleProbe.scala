package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The measured scale probe (VERDICT r19 next-round #1): makes the
  * repo's 100 TB-posture claims EMPIRICAL by benching the most
  * expensive queries at 1×/10×/100× of sf0.1 and recording per-query
  * scaling exponents (`exp = ln(t_b/t_a)/ln(b/a)`; 1.0 = linear).
  *
  * The corpus inflator is deterministic (no RNG): every fact row is
  * replicated `factor` times with RE-KEYED ids (`id·factor + rep`,
  * collision-free) and SALTED content — every 4th word of a document
  * becomes a replica-unique token, so an 8-gram span always crosses a
  * salt (zero cross-replica ExactSubstr overlap) and cross-replica
  * trigram Jaccard sits ~0.14, far under the 0.5 near-dup verify
  * threshold: replicas look like RELATED-BUT-DISTINCT documents, the
  * realistic web-corpus shape, so dedup candidate volume scales like a
  * real corpus instead of exploding quadratically by construction.
  * Events re-key both event and user ids (user count grows with the
  * corpus — the bounded-per-user-window posture); embeddings perturb
  * each component by a deterministic ±3% so replicas are near but not
  * identical. Dimension tables copy verbatim (dims grow slowly at
  * 100 TB). The ×1 point is ALSO materialized through the inflator
  * (factor 1, salted) so all points share identical per-replica
  * statistics.
  *
  * Usage: `runMain graft.ScaleProbe` — env:
  *   SPARK_GRAFT_SF_DIR       base corpus (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_SCALE_OUT    work dir    (default /tmp/graft_scale)
  *   SPARK_GRAFT_SCALE_FACTORS  default "1,10,100"
  *   SPARK_GRAFT_SCALE_QUERIES  default = the 10 most expensive (r19 seal)
  *   SPARK_GRAFT_SCALE_JSON   output (default BENCH_SCALE.json)
  * Prints one JSON line and writes it to the output file. */
object ScaleProbe {

  /** Queries benched by default — the r19 seal's 10 most expensive —
    * with the max inflation factor each runs at. sim_knn_join caps at
    * ×10: its candidate blocking is (2^planes × labels) buckets with
    * the PLANE COUNT a corpus-size tuning knob, so holding planes
    * fixed while inflating 100× measures the mis-tuned configuration,
    * not the plan (the probe's ×10 exponent already shows the n²/B
    * growth; the declared scale path re-tunes planes ~ log n, or moves
    * to the IVF/PQ faces). */
  val DefaultQueries: Seq[(String, Int)] = Seq(
    "dd_simhash_est" -> 100,
    "dd_substr_tok" -> 100,
    "ev_gap_stats" -> 100,
    "dd_minhash_est" -> 100,
    "q_corr" -> 100,
    "txt_lm_score" -> 100,
    "q1_pricing_summary" -> 100,
    "q20_heavy_parts" -> 100,
    "sim_knn_join" -> 10,
    "arr_matmul" -> 100,
    // one head per remaining family, so the evidence table covers the
    // whole engine: the e2e composite, LSH dedup, apply-time substr
    // slicing, trained-tokenizer serving, the embeddings Gram, the
    // PQ-coded ANN scale path, sessionization, exact dedup, the
    // spectral kernel, and the narrow quality gate
    "pipe_e2e" -> 100,
    "dd_minhash_lsh" -> 100,
    "dd_substr_keep" -> 100,
    "txt_bpe_encode" -> 100,
    "emb_gram" -> 100,
    "sim_ivfpq_ann" -> 100,
    "ev_sessionize" -> 100,
    "dd_exact" -> 100,
    "arr_fft" -> 100,
    "txt_quality" -> 100)

  /** Salt every 4th word with a replica-unique token (see object doc). */
  private def saltedText(text: org.apache.spark.sql.Column,
      rep: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array_join(
      zip_with(split(text, " "),
        sequence(lit(0), greatest(size(split(text, " ")) - 1, lit(0))),
        (w, i) => when(i % 4 === 3,
          concat(lit("s"), rep.cast("string"), lit("x"), (i % 7).cast("string")))
          .otherwise(w)),
      " ")

  /** Write the factor-f inflation of `src` into `out` (skips tables
    * already marked done, so an interrupted probe resumes). */
  def inflate(spark: SparkSession, src: String, out: String, f: Int): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // Resume is only valid against the SAME base corpus: a work dir
    // left over from a different SPARK_GRAFT_SF_DIR (or a regenerated
    // base) would otherwise serve stale tables while the JSON stamps
    // the new base. The marker records (src, factor); on mismatch the
    // whole factor dir is wiped and re-inflated.
    val marker = new org.apache.hadoop.fs.Path(s"$out/_GRAFT_BASE")
    val want = s"$src|$f"
    val have =
      if (!fs.exists(marker)) None
      else {
        val in = fs.open(marker)
        try Some(new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim)
        finally in.close()
      }
    if (!have.contains(want)) {
      fs.delete(new org.apache.hadoop.fs.Path(out), true)
      val os = fs.create(marker, true)
      try os.write(want.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally os.close()
    }
    def done(t: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$out/$t.parquet/_SUCCESS"))
    val reps = spark.range(f).select(col("id").cast("bigint").as("rep"))
    def rekey(c: String) = (col(c) * f + col("rep")).as(c)

    if (!done("documents")) {
      spark.read.parquet(s"$src/documents.parquet").crossJoin(reps)
        .select(rekey("doc_id"),
          saltedText(col("text"), col("rep")).as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("bigint"))
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
    }
    if (!done("events")) {
      // load via Tables so the NANOS long normalizes to a µs timestamp
      graft.sources.Tables.load(spark, src, "events").crossJoin(reps)
        .select(rekey("event_id"), col("ts"), rekey("user_id"),
          col("event_type"), col("value"), col("props"))
        .write.mode("overwrite").parquet(s"$out/events.parquet")
    }
    if (!done("embeddings")) {
      spark.read.parquet(s"$src/embeddings.parquet").crossJoin(reps)
        .select(rekey("vec_id"),
          zip_with(col("embedding"),
            sequence(lit(0), size(col("embedding")) - 1),
            (x, j) => (x.cast("double") *
              (lit(1.0) + ((col("rep") * 31 + j) % 7 - 3).cast("double") * 0.01))
              .cast("float")).as("embedding"),
          col("label"))
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    }
    if (!done("lineitem")) {
      spark.read.parquet(s"$src/lineitem.parquet").crossJoin(reps)
        .select(Seq(rekey("l_orderkey")) ++ Seq("l_partkey", "l_suppkey",
          "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
          "l_tax", "l_returnflag", "l_linestatus", "l_shipdate").map(col): _*)
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    }
    if (!done("orders")) {
      spark.read.parquet(s"$src/orders.parquet").crossJoin(reps)
        .select(Seq(rekey("o_orderkey")) ++ Seq("o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate", "o_orderpriority").map(col): _*)
        .write.mode("overwrite").parquet(s"$out/orders.parquet")
    }
    // dims copy verbatim
    for (t <- Seq("region", "nation", "customer", "supplier", "part")
         if !done(t)) {
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outBase = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "/tmp/graft_scale")
    val jsonOut = sys.env.getOrElse("SPARK_GRAFT_SCALE_JSON", "BENCH_SCALE.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val factors = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTORS", "1,10,100")
      .split(",").map(_.trim.toInt).toSeq.sorted
    val queries: Seq[(String, Int)] =
      sys.env.get("SPARK_GRAFT_SCALE_QUERIES") match {
        // an explicit list runs at every requested factor — the
        // DefaultQueries caps only guard the unattended default sweep
        case Some(qs) => qs.split(",").map(_.trim).toSeq
          .map(q => q -> factors.max)
        case None => DefaultQueries
      }

    var spark = Bench.measurementSession(cpus, cpus.toInt)
    // materialize every factor's corpus first (resumable)
    for (f <- factors) {
      val dir = s"$outBase/x$f"
      System.err.println(s"[scale] inflating x$f -> $dir")
      inflate(spark, src, dir, f)
    }

    val results = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[Int, Double]]
    for (f <- factors) {
      val dir = s"$outBase/x$f"
      // fresh session per factor: persisted family pipelines and array
      // memos are per-(session, dir); a shared session would let factor
      // N's cache pressure pollute factor N+1's numbers. Shuffle width
      // scales with the factor (the SURVEY 4 partition-sizing rule a
      // real cluster applies: hold per-partition bytes roughly constant
      // instead of per-partition rows x100).
      def restart(): Unit = {
        try {
          graft.operators.Memo.release(spark)
          graft.sources.Tables.clearCache()
        } catch { case _: Throwable => () }
        try spark.stop() catch { case _: Throwable => () }
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
        // SPARK_GRAFT_SCALE_SHUFFLE overrides the width for adjudication
        // runs (is a super-linear leg partition sizing or the plan?)
        val width = sys.env.get("SPARK_GRAFT_SCALE_SHUFFLE").map(_.toInt)
          .getOrElse(math.max(cpus.toInt, cpus.toInt * f / 10))
        spark = Bench.measurementSession(cpus, width)
      }
      restart()
      // SPARK_GRAFT_SCALE_PASSES=1 measures the COLD cost instead of
      // the min-of-2 marginal: one pass per query with a fresh session
      // before each, so family memos and persisted pipelines can't
      // carry — the number a first-time run of a trained/memoized face
      // (emb_gram, sim_ivfpq_*, the arr_* grids, pipe_e2e) pays.
      val passes = sys.env.getOrElse("SPARK_GRAFT_SCALE_PASSES", "2").toInt
      for ((q, cap) <- queries if f <= cap) {
        if (passes == 1) restart()
        // min-of-2 (the Bench discipline): pass 1 absorbs the family's
        // shared cold pipeline, pass 2 is the marginal cost
        def once(): Double = {
          // an OOM can take the whole context down; restart so the
          // remaining queries still measure (the Bench discipline)
          if (spark.sparkContext.isStopped) {
            System.err.println("[scale] SparkContext died; restarting")
            restart()
          }
          val t0 = System.nanoTime()
          SparkEntry.queries(q)(spark, dir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        val sec =
          try if (passes == 1) once() else math.min(once(), once())
          catch { case e: Throwable =>
            System.err.println(s"[scale] $q x$f FAILED: ${e.getMessage}")
            -1.0
          }
        System.err.println(f"[scale] $q%-22s x$f%-4d $sec%9.2f s")
        results.getOrElseUpdate(q,
          scala.collection.mutable.LinkedHashMap.empty[Int, Double])
          .update(f, sec)
      }
    }
    spark.stop()

    def exp(ta: Double, tb: Double, fa: Int, fb: Int): Option[Double] =
      if (ta > 0 && tb > 0) Some(math.log(tb / ta) / math.log(fb.toDouble / fa))
      else None
    // Locale.ROOT like Bench.fmt3: f"" uses the JVM default locale, and
    // a comma-decimal locale (de_DE) would make the JSON unparseable
    def fmt3(t: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(t))
    val qJson = results.map { case (q, byF) =>
      val secs = byF.map { case (f, s) => s""""$f":${fmt3(s)}""" }.mkString(",")
      val fs = byF.keys.toSeq.sorted
      val exps = fs.zip(fs.tail).flatMap { case (a, b) =>
        exp(byF(a), byF(b), a, b).map(e =>
          s""""exp_${a}_$b":${fmt3(e)}""")
      }.mkString(",")
      s""""$q":{"secs":{$secs}${if (exps.nonEmpty) "," + exps else ""}}"""
    }.mkString(",")
    val json = s"""{"metric":"scale_probe","base":"$src",""" +
      s""""factors":[${factors.mkString(",")}],"queries":{$qJson}}"""
    println(json)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(jsonOut), json + "\n")
  }
}
