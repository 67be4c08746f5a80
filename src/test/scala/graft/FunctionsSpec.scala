package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._
import graft.operators.{Dedup, Similarity, TextAnalysis}

class FunctionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  test("emb_gram is exact vs a driver recomputation; emb_pca_var spectrum checks out") {
    val dim = Similarity.Dim
    val got = Similarity.embGram(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.size == dim * dim)
    val embs = graft.sources.Tables.load(spark, sf, "embeddings")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(v => math.floor(v.toDouble * 1000.0).toLong).toArray)
    val ref = Array.ofDim[Long](dim, dim)
    for (q <- embs; i <- 0 until dim; j <- 0 until dim) ref(i)(j) += q(i) * q(j)
    for (i <- 0 until dim; j <- 0 until dim)
      assert(got((i.toLong, j.toLong)) == ref(i)(j), s"gram ($i,$j)")
    // the spectrum: the distributed sums + driver centering must equal a
    // spec-side centering of the SAME exact integers (identical doubles),
    // and a covariance spectrum is PSD and descending
    val eig = Similarity.embPcaVar(spark, sf).collect().map(_.getDouble(1)).toSeq
    assert(eig.size == 16)
    val n = embs.length.toLong
    val sums = new Array[Long](dim)
    for (q <- embs; i <- 0 until dim) sums(i) += q(i)
    val cov = Array.tabulate(dim, dim)((i, j) =>
      (n * ref(i)(j) - sums(i) * sums(j)).toDouble)
    val want = graft.arrays.Eigen.symEigenvalues(cov)
    assert(eig == want.take(16).toSeq,
      "query spectrum must equal the spec-side exact recomputation")
    assert(eig == eig.sorted.reverse, "descending")
    val tol = 1e-9 * math.max(1.0, math.abs(want.head))
    assert(want.forall(_ >= -tol), "covariance spectrum is PSD up to rounding")
    // trace preservation: Jacobi rotations keep the trace
    val trace = (0 until dim).map(i => cov(i)(i)).sum
    assert(math.abs(want.sum - trace) <= 1e-9 * math.abs(trace), "trace identity")
  }

  test("emb_pca_project: distributed fold == driver replay bit-for-bit") {
    val dim = Similarity.Dim
    val got = Similarity.embPcaProject(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got.nonEmpty)
    // rebuild the basis exactly as the query does, then replay the
    // ascending-dim left fold on the same quantized integers
    val rows = graft.sources.Tables.load(spark, sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(v => math.floor(v.toDouble * 1000.0).toLong).toArray)
    val n = rows.length.toLong
    val ref = Array.ofDim[Long](dim, dim)
    val sums = new Array[Long](dim)
    for ((_, q) <- rows) {
      for (i <- 0 until dim) {
        sums(i) += q(i)
        for (j <- 0 until dim) ref(i)(j) += q(i) * q(j)
      }
    }
    val cov = Array.tabulate(dim, dim)((i, j) =>
      (n * ref(i)(j) - sums(i) * sums(j)).toDouble)
    val top = graft.arrays.Eigen.symEigen(cov)._2.take(Similarity.EmbPcaK)
    for ((id, q) <- rows; k <- 0 until Similarity.EmbPcaK) {
      var acc = 0.0
      for (d <- 0 until dim) acc += q(d).toDouble * top(k)(d)
      val gotK = if (k == 0) got(id)._1 else got(id)._2
      assert(java.lang.Double.doubleToRawLongBits(gotK) ==
        java.lang.Double.doubleToRawLongBits(acc), s"vec $id pc$k")
    }
  }

  test("hash60 column matches localHash60 (literal generation parity)") {
    val s = "3:the quick fox"
    val got = Seq(s).toDF("x").select(hash60(col("x"))).head().getLong(0)
    assert(got == localHash60(s))
  }

  test("tokens drops empties; shingles windows correctly") {
    val df = Seq("a b  c d ").toDF("text")
      .select(tokens(col("text")).as("tk"))
      .select(col("tk"), shingles(col("tk"), 3).as("sh"))
    val r = df.head()
    assert(r.getSeq[String](0) == Seq("a", "b", "c", "d"))
    assert(r.getSeq[String](1) == Seq("a b c", "b c d"))
  }

  test("shingles on short docs is empty, not descending-sequence garbage") {
    val r = Seq("one two").toDF("text")
      .select(shingles(tokens(col("text")), 3)).head()
    assert(r.getSeq[String](0).isEmpty)
  }

  test("native TokenCharSum/TokenHitCount == HOF folds over the corpus + edges") {
    import org.apache.spark.sql.graftexpr.TextExpressions
    import org.apache.spark.sql.functions.{aggregate, filter, length, size, transform}
    val words = Seq("the", "a", "and", "of", "to", "in", "is")
    val corpus = graft.sources.Tables.load(spark, sf, "documents")
      .select(tokens(col("text")).as("tk"))
    val edges = Seq(
      Seq.empty[String], Seq("the"), Seq("zzz"), Seq("", "the", "a", "a"))
      .toDF("tk")
    for (df <- Seq(corpus, edges)) {
      val diff = df.select(
        TextExpressions.tokenCharSum(col("tk")).as("natc"),
        aggregate(transform(col("tk"), t => length(t)), lit(0), (a, x) => a + x).as("hofc"),
        TextExpressions.tokenHitCount(col("tk"), words).as("nath"),
        size(filter(col("tk"), t => t.isin(words.map(lit(_)): _*))).as("hofh"))
        .filter(!(col("natc") <=> col("hofc")) || !(col("nath") <=> col("hofh")))
      assert(diff.count() == 0, diff.collect().take(5).mkString("; "))
    }
    // null token: char sum poisons (a + null), hit count drops (isin null)
    val nt = Seq(Tuple1(Seq[String]("ab", null, "the"))).toDF("tk")
      .select(TextExpressions.tokenCharSum(col("tk")).as("c"),
        TextExpressions.tokenHitCount(col("tk"), words).as("h")).head()
    assert(nt.isNullAt(0) && nt.getInt(1) == 1)
  }

  test("native WordNgrams == HOF shingles(tokens) over the real corpus") {
    import org.apache.spark.sql.graftexpr.TextExpressions
    for (n <- Seq(1, 2, 3)) {
      val diff = graft.sources.Tables.load(spark, sf, "documents")
        .select(
          TextExpressions.wordNgrams(col("text"), n).as("nat"),
          (if (n == 1) tokens(col("text"))
           else shingles(tokens(col("text")), n)).as("hof"))
        .filter(!(col("nat") <=> col("hof")))
        .count()
      assert(diff == 0, s"n=$n")
    }
  }

  test("native MaxTokenCount == count-per-distinct-token max over the corpus") {
    import org.apache.spark.sql.functions.{array_distinct, array_max, filter, size, transform, when}
    import org.apache.spark.sql.graftexpr.TextExpressions
    val tk = tokens(col("text"))
    // the oracle's form: max over distinct tokens of its multiplicity
    val hof = when(size(tk) > 0, array_max(transform(array_distinct(tk),
      t => size(filter(tk, x => x === t)).cast("bigint")))).otherwise(0L)
    val diff = graft.sources.Tables.load(spark, sf, "documents")
      .select(TextExpressions.maxTokenCount(col("text")).as("nat"), hof.as("hof"))
      .filter(!(col("nat") <=> col("hof")))
      .count()
    assert(diff == 0)
  }

  test("native RepetitionStats == the three-expression spelling over the corpus") {
    import org.apache.spark.sql.functions.{array, array_distinct, element_at, size}
    import org.apache.spark.sql.graftexpr.TextExpressions
    val tk3 = TextExpressions.wordNgrams(col("text"), 3)
    val composed = array(
      size(TextExpressions.wordNgrams(col("text"), 1)).cast("bigint"),
      TextExpressions.maxTokenCount(col("text")),
      size(tk3).cast("bigint"),
      size(array_distinct(tk3)).cast("bigint"))
    val corpus = graft.sources.Tables.load(spark, sf, "documents")
      .select(col("text"))
      .unionAll(Seq("", "one", "one two", "a a a", "x y x y x y")
        .toDF("text")) // sub-3-token and repetition edge shapes
    val diff = corpus
      .select(TextExpressions.repetitionStats(col("text")).as("nat"),
        composed.as("hof"))
      .filter(!(col("nat") <=> col("hof")) ||
        element_at(col("nat"), 3) =!= element_at(col("hof"), 3))
      .count()
    assert(diff == 0)
  }

  test("native HashWordNgrams == distinct HOF gram hashes over the corpus") {
    import org.apache.spark.sql.functions.{array_distinct, transform}
    import org.apache.spark.sql.graftexpr.TextExpressions
    for (n <- Seq(1, 3)) {
      // the HOF chain docShingles used: distinct grams -> md5-60bit each
      val diff = graft.sources.Tables.load(spark, sf, "documents")
        .select(
          TextExpressions.hashWordNgrams(col("text"), n).as("nat"),
          array_distinct(transform(
            array_distinct(if (n == 1) tokens(col("text"))
                           else shingles(tokens(col("text")), n)),
            g => hash60(g))).as("hof"))
        .filter(!(col("nat") <=> col("hof")))
        .count()
      assert(diff == 0, s"n=$n")
    }
  }

  test("native JaccardSet == size(array_intersect)/size(array_union), incl. dups/nulls/empties") {
    import org.apache.spark.sql.graftexpr.SketchExpressions
    val rnd = new scala.util.Random(50923L)
    def mk(n: Int): Seq[java.lang.Long] = Seq.fill(n)(
      if (rnd.nextInt(15) == 0) null
      else java.lang.Long.valueOf(rnd.nextInt(40).toLong)) // small domain -> dups + overlap
    val rows: Seq[(Seq[java.lang.Long], Seq[java.lang.Long])] =
      (0 until 60).map(_ => (mk(rnd.nextInt(28) + 1), mk(rnd.nextInt(28) + 1))) ++ Seq(
        (Seq.empty, Seq(java.lang.Long.valueOf(1L))), // 0/1
        (Seq(null), Seq(null)),                       // null element intersects
        (Seq(null), Seq(java.lang.Long.valueOf(2L))))
    import org.apache.spark.sql.functions.{array_intersect, array_union, isnan, size}
    val df = rows.toDF("a", "b")
    val ref = size(array_intersect(col("a"), col("b"))).cast("double") /
      size(array_union(col("a"), col("b"))).cast("double")
    val diff = df.select(SketchExpressions.jaccardSet(col("a"), col("b")).as("nat"),
        ref.as("ref"))
      .filter(!(col("nat") <=> col("ref")))
    assert(diff.count() == 0, diff.collect().take(3).mkString("; "))
    // out-of-domain empty/empty (unreachable in the queries: every
    // verify pair carries non-empty hs): the kernel gives pure-IEEE
    // NaN where ANSI's Divide would throw — declared divergence
    val nanRow = Seq((Seq.empty[java.lang.Long], Seq.empty[java.lang.Long]))
      .toDF("a", "b")
      .select(SketchExpressions.jaccardSet(col("a"), col("b")).as("nat"))
      .select(isnan(col("nat"))).head()
    assert(nanRow.getBoolean(0))
    // null ARRAY propagates
    val nr = Seq((null.asInstanceOf[Seq[java.lang.Long]], Seq(java.lang.Long.valueOf(1L))))
      .toDF("a", "b")
      .select(SketchExpressions.jaccardSet(col("a"), col("b"))).head()
    assert(nr.isNullAt(0))
  }

  test("cosine matches a hand-computed value") {
    val df = Seq((Seq(1.0f, 0.0f, 1.0f), Seq(1.0f, 1.0f, 0.0f))).toDF("a", "b")
    val c = df.select(cosine(col("a"), col("b"))).head().getDouble(0)
    assert(math.abs(c - 0.5) < 1e-12) // dot=1, norms sqrt(2)*sqrt(2)
  }

  test("cosine of a vector with itself is 1") {
    val df = Seq(Tuple1(Seq(0.3f, -1.2f, 2.5f, 0.01f))).toDF("a")
    val c = df.select(cosine(col("a"), col("a"))).head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("pipe_mix keeps every doc of uncapped sources and downsamples the rest") {
    val rows = graft.operators.Pipeline.pipeMix(spark, "/root/testdata/sf0.001")
      .as[(String, Long, Double, Long)].collect()
    assert(rows.length > 1)
    rows.foreach { case (src, nDocs, keepFrac, nKept) =>
      assert(keepFrac > 0.0 && keepFrac <= 1.0, src)
      if (keepFrac == 1.0) assert(nKept == nDocs, src)
      else assert(nKept <= nDocs, src)
    }
    // the named heavy sources are capped (w*N > n_src on the uniform corpus)
    val bySrc = rows.map(r => r._1 -> r._3).toMap
    assert(bySrc("src0") == 1.0 && bySrc("src1") == 1.0)
    assert(bySrc.exists(_._2 < 1.0))
  }

  test("dedup: minhash candidates all verified with exact jaccard in (0,1]") {
    val rows = Dedup.ddMinhashLsh(spark, sf).collect()
    assert(rows.forall { r =>
      val j = r.getAs[Double]("jaccard"); j > 0.0 && j <= 1.0
    })
  }

  test("similarity: knn self-join ranks contiguously within same-label buckets") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.operators.Similarity.simKnnJoin(spark, dir)
      .as[(Long, Long, Double, Long)].collect()
    val labels = graft.sources.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "label").as[(Long, Int)].collect().toMap
    rows.groupBy(_._1).foreach { case (q, nns) =>
      val rks = nns.map(_._4).sorted.toSeq
      assert(rks == (1L to rks.length), s"ranks not contiguous for $q")
      assert(rks.length <= graft.operators.Similarity.KnnK)
      nns.foreach { case (_, nn, cos, _) =>
        assert(nn != q && labels(nn) == labels(q))
        assert(cos >= -1.0000001 && cos <= 1.0000001)
      }
      // ranks follow descending cosine
      val byRk = nns.sortBy(_._4).map(_._3).toSeq
      assert(byRk == byRk.sorted.reverse)
    }
  }

  test("similarity: brute-force top-k is 10 per probe, ranked by cosine") {
    val rows = Similarity.simTopkBruteforce(spark, sf).collect()
    val byProbe = rows.groupBy(_.getAs[Long]("probe_id"))
    assert(byProbe.size == 5)
    byProbe.values.foreach { g =>
      assert(g.length == 10)
      val cs = g.sortBy(_.getAs[Long]("rk")).map(_.getAs[Double]("cos"))
      assert(cs.zip(cs.tail).forall { case (x, y) => x >= y })
    }
  }

  test("similarity: probes are broadcast (no shuffle of the big side)") {
    val plan = Similarity.simTopkBruteforce(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"), s"expected broadcast join in:\n$plan")
  }

  test("similarity: top-k runs as two-phase bounded heap, not a full sort") {
    for (q <- Seq(Similarity.simTopkBruteforce(spark, sf),
                  Similarity.simLshAnn(spark, sf),
                  Similarity.simIvfAnn(spark, sf))) {
      val plan = q.queryExecution.executedPlan.toString
      // partial (pre-shuffle) + final heap instance: the exchange only
      // ever moves <=k rows per probe per upstream partition.
      assert("TopKPerKey".r.findAllIn(plan).length == 2,
        s"expected partial+final TopKPerKeyExec in:\n$plan")
    }
  }

  test("similarity: IVFADC scores the reconstructed residual cosine within its own list") {
    // Independent semantic check (the oracle gate only proves the two
    // engines run the same math): replay assignment + residual encoding
    // in plain driver-side arithmetic, reconstruct c + r-hat, and assert
    // every returned candidate (a) lives in the probe's inverted list
    // and (b) carries an approx_cos equal to the reconstruction cosine
    // up to fold-order noise.
    import graft.operators.Similarity.{NumCentroids, NumCodes, NumSubspaces}
    val subDim = Similarity.Dim / NumSubspaces
    val vecs: Map[Long, IndexedSeq[Double]] = graft.sources.Tables
      .load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq).toMap
    val cents = (0 until NumCentroids).map(k => vecs(k.toLong))
    val codebook = (0 until NumSubspaces).map(m => (0 until NumCodes).map(j =>
      vecs(j.toLong).slice(m * subDim, (m + 1) * subDim)))
    def d2(a: Seq[Double], b: Seq[Double]) =
      a.indices.map(i => { val d = a(i) - b(i); d * d }).sum
    def assign(x: IndexedSeq[Double]): Int =
      cents.indices.minBy(k => (d2(x, cents(k)), k))
    def encode(x: IndexedSeq[Double], k: Int): IndexedSeq[Int] =
      (0 until NumSubspaces).map { m =>
        val rm = (0 until subDim).map(i =>
          x(m * subDim + i) - cents(k)(m * subDim + i))
        (0 until NumCodes).minBy(j => (d2(rm, codebook(m)(j)), j))
      }
    val rows = Similarity.simIvfpqAnn(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val q = vecs(r.getAs[Long]("probe_id"))
      val v = vecs(r.getAs[Long]("vec_id"))
      val kq = assign(q)
      assert(assign(v) == kq, "candidate outside the probe's inverted list")
      val codes = encode(v, kq)
      val rec = (0 until Similarity.Dim).map(i =>
        cents(kq)(i) + codebook(i / subDim)(codes(i / subDim))(i % subDim))
      val exact = q.indices.map(i => q(i) * rec(i)).sum /
        math.sqrt(q.map(x => x * x).sum * rec.map(x => x * x).sum)
      assert(math.abs(r.getAs[Double]("approx_cos") - exact) < 1e-9,
        s"ADC ${r.getAs[Double]("approx_cos")} vs reconstruction $exact")
    }
  }

  test("similarity: rerank tier re-scores the ADC shortlist with exact cosine") {
    val vecs: Map[Long, IndexedSeq[Double]] = graft.sources.Tables
      .load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq).toMap
    // the same ascending 0.0-seeded fold the native dot runs
    def fdot(a: Seq[Double], b: Seq[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    val rr = Similarity.simIvfpqRerank(spark, sf).collect()
    assert(rr.nonEmpty)
    // ranks contiguous from 1 per probe; cos non-increasing in rank
    rr.groupBy(_.getAs[Long]("probe_id")).foreach { case (p, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("rk"))
      assert(sorted.map(_.getAs[Long]("rk")).toSeq == (1L to sorted.length),
        s"probe $p ranks")
      assert(sorted.sliding(2).forall(w =>
        w.length < 2 || w(0).getAs[Double]("cos") >= w(1).getAs[Double]("cos")),
        s"probe $p ordering")
      assert(sorted.length <= 5)
    }
    // every emitted score IS the exact cosine of the raw vectors (the
    // tier-2 contract: full precision, not ADC) — bit-for-bit
    for (r <- rr) {
      val q = vecs(r.getAs[Long]("probe_id"))
      val v = vecs(r.getAs[Long]("vec_id"))
      val exact = fdot(q, v) / math.sqrt(fdot(q, q) * fdot(v, v))
      assert(java.lang.Double.doubleToRawLongBits(r.getAs[Double]("cos")) ==
        java.lang.Double.doubleToRawLongBits(exact),
        s"rerank cos ${r.getAs[Double]("cos")} vs exact $exact")
    }
    // the shortlist really is the ADC tier: every rerank hit appears in
    // the R-deep approximate ranking of the same index
    val short = Similarity.simIvfpqAnn(spark, sf)
    val shortIds = short.collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id"))).toSet
    val hits = rr.map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id")))
    // ann is top-5; rerank draws from top-RerankR >= top-5, so any pair
    // ranked <= 5 by ADC that survives exact re-ranking must be present
    assert(hits.exists(shortIds.contains),
      "rerank output shares no pair with the ADC top-5 — shortlist broken")
  }

  test("similarity: matryoshka tier-1 shortlist is prefix-ranked, tier-2 exact") {
    val vecs: Map[Long, IndexedSeq[Double]] = graft.sources.Tables
      .load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq).toMap
    def fdot(a: Seq[Double], b: Seq[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    def cos(a: Seq[Double], b: Seq[Double]): Double =
      fdot(a, b) / math.sqrt(fdot(a, a) * fdot(b, b))
    val mr = Similarity.simMatryoshka(spark, sf).collect()
    assert(mr.nonEmpty)
    // every emitted score is the exact FULL-dimension cosine, bit-exact
    for (r <- mr) {
      val exact = cos(vecs(r.getAs[Long]("probe_id")), vecs(r.getAs[Long]("vec_id")))
      assert(java.lang.Double.doubleToRawLongBits(r.getAs[Double]("cos")) ==
        java.lang.Double.doubleToRawLongBits(exact))
    }
    // the shortlist really is the PREFIX tier: recompute the tier-1
    // top-R per probe from the first MrlDims dims driver-side; every
    // emitted pair must be inside it
    for ((p, rows) <- mr.groupBy(_.getAs[Long]("probe_id"))) {
      val q = vecs(p).take(Similarity.MrlDims)
      val short = vecs.keys.filter(_ != p).toSeq
        .map(v => v -> cos(vecs(v).take(Similarity.MrlDims), q))
        .sortBy { case (v, c) => (-c, v) }.take(Similarity.MrlR).map(_._1).toSet
      rows.foreach(r => assert(short.contains(r.getAs[Long]("vec_id")),
        s"probe $p: hit outside the prefix shortlist"))
      assert(rows.map(_.getAs[Long]("rk")).sorted.toSeq ==
        (1L to rows.length), s"probe $p ranks")
    }
    // recall floor vs the exact top-5: the synthetic embeddings are NOT
    // matryoshka-trained (MRL trains the prefix to rank like the full
    // vector; random prefixes only weakly correlate), so this pins the
    // measured property of the fixed corpus (9/25) as a smoke floor,
    // not a quality claim — the structural contracts above are the test
    val exactTop = vecs.keys.filter(_ < 5).map { p =>
      p -> vecs.keys.filter(_ != p).toSeq
        .map(v => v -> cos(vecs(v), vecs(p)))
        .sortBy { case (v, c) => (-c, v) }.take(5).map(_._1).toSet
    }.toMap
    val hits = mr.count(r =>
      exactTop(r.getAs[Long]("probe_id")).contains(r.getAs[Long]("vec_id")))
    assert(hits >= mr.length / 4, s"matryoshka recall $hits/${mr.length}")
  }

  test("similarity: IVF centroid assignment is a narrow scan (no n*k explosion)") {
    val plan = Similarity.simIvfAnn(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"centroid assignment must not cross-join:\n$plan")
  }

  test("similarity: Tables.fingerprint uses the Hadoop FS and survives missing dirs") {
    import graft.sources.Tables
    // a real table fingerprints; a missing one is None (no NPE), so the
    // trained path falls back to a fresh fit instead of a stale memo
    val fp = Tables.fingerprint(spark, sf, "embeddings")
    assert(fp.exists(_.nonEmpty))
    assert(Tables.fingerprint(spark, "/tmp/graft_no_such_dir", "embeddings").isEmpty)
    // a malformed path (invalid URI scheme) degrades to None too, not a
    // thrown IllegalArgumentException (cannot-prove-freshness contract)
    assert(Tables.fingerprint(spark, "::bad uri::", "embeddings").isEmpty)
    // rewriting a file in place changes the fingerprint (size or mtime)
    val tmp = java.nio.file.Files.createTempDirectory("graft_fp").toString
    val tbl = java.nio.file.Paths.get(tmp, "embeddings.parquet")
    java.nio.file.Files.createDirectory(tbl)
    val part = tbl.resolve("part-0")
    java.nio.file.Files.writeString(part, "aa")
    val before = Tables.fingerprint(spark, tmp, "embeddings")
    java.nio.file.Files.writeString(part, "abcd")
    val after = Tables.fingerprint(spark, tmp, "embeddings")
    assert(before.exists(_.nonEmpty) && after.exists(_.nonEmpty) && before != after)
  }

  test("similarity: k-means trains the IVF quantizer deterministically") {
    import org.apache.spark.sql.functions.col
    // two well-separated blobs around (0,0) and (10,10); init takes the
    // first two vectors (one from each blob by construction)
    val pts = Seq(
      (0L, Seq(0.0, 0.0)), (1L, Seq(10.0, 10.0)),
      (2L, Seq(0.2, -0.2)), (3L, Seq(-0.2, 0.2)),
      (4L, Seq(10.2, 9.8)), (5L, Seq(9.8, 10.2)))
    val df = pts.toDF("vec_id", "emb")
    val c1 = Similarity.trainCentroids(df, k = 2, iters = 5)
    val c2 = Similarity.trainCentroids(df, k = 2, iters = 5)
    assert(c1 == c2, "same data + same init must give identical centroids")
    // converged centroids = the blob means
    assert(c1(0).zip(Seq(0.0, 0.0)).forall { case (a, b) => math.abs(a - b) < 1e-9 })
    assert(c1(1).zip(Seq(10.0, 10.0)).forall { case (a, b) => math.abs(a - b) < 1e-9 })
    // plan shape: assignment is narrow — no exchange before the argmin
    val cents = c1
    val distStructs = cents.zipWithIndex.map { case (c, i) =>
      org.apache.spark.sql.functions.struct(
        (org.apache.spark.sql.functions.lit(c.map(x => x * x).sum) -
          org.apache.spark.sql.functions.lit(2.0) *
            graft.functions.dot(col("emb"),
              org.apache.spark.sql.functions.typedLit(c))).as("d2"),
        org.apache.spark.sql.functions.lit(i).as("cid"))
    }
    val assignedPlan = df.withColumn("cluster",
      org.apache.spark.sql.functions.array_min(
        org.apache.spark.sql.functions.array(distStructs: _*)).getField("cid"))
      .queryExecution.executedPlan.toString
    assert(!assignedPlan.contains("Exchange"), s"assignment should be narrow:\n$assignedPlan")
  }

  test("simhash width is configurable and follows the majority-bit rule") {
    import org.apache.spark.sql.functions.col
    val df = Seq(Tuple1(Seq(1L, 3L, 3L))).toDF("hs")
    val sig = df.select(org.apache.spark.sql.graftexpr.SketchExpressions
      .simhash(col("hs"), 60).as("s")).head.getLong(0)
    // bit0: +3 majority -> set; bit1: +1 majority -> set; bits 2..59: -3 -> clear
    assert(sig == 3L)
    // a 60-bit signature never sets bits >= 60
    assert((sig >>> 60) == 0L)
  }

  test("similarity: quantizer round-trips through the parquet model table") {
    val pts = Seq(
      (0L, Seq(0.0, 0.0)), (1L, Seq(10.0, 10.0)),
      (2L, Seq(0.2, -0.2)), (3L, Seq(10.2, 9.8)))
    val trained = Similarity.trainCentroids(pts.toDF("vec_id", "emb"), k = 2, iters = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft_model").toString + "/quantizer"
    Similarity.saveCentroids(spark, trained, dir)
    assert(Similarity.loadCentroids(spark, dir) == trained,
      "reloaded model must be bit-identical to the trained one")
  }

  test("similarity: trained IVF search is deterministic and well-formed") {
    val a = Similarity.queries("sim_ivf_trained")(spark, sf).collect()
    val b = Similarity.queries("sim_ivf_trained")(spark, sf).collect()
    assert(a.nonEmpty)
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    assert(a.forall { r => val rk = r.getAs[Long]("rk"); rk >= 1 && rk <= 5 })
  }

  test("similarity: trained PQ search is deterministic and well-formed") {
    val a = Similarity.queries("sim_pq_trained")(spark, sf).collect()
    val b = Similarity.queries("sim_pq_trained")(spark, sf).collect()
    assert(a.nonEmpty)
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    assert(a.forall { r => val rk = r.getAs[Long]("rk"); rk >= 1 && rk <= 5 })
    // trained codewords differ from the fixed first-NumCodes slices, so
    // the oracle must NOT be the static sim_pq_ann SQL
    val o = Similarity.oracles
    assert(o.contains("sim_pq_trained") && o("sim_pq_trained") != o("sim_pq_ann"))
  }

  test("similarity: per-dir trained oracles embed their own fit") {
    val dirA = sf
    val dirB = "/root/testdata/sf0.01"
    try {
      // train BOTH dirs in one JVM (the case a single global slot got wrong)
      Similarity.queries("sim_ivf_trained")(spark, dirA).collect()
      Similarity.queries("sim_ivf_trained")(spark, dirB).collect()
      def fitOf(dir: String) = Similarity.trainCentroids(
        graft.sources.Tables.load(spark, dir, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("emb")),
        Similarity.NumCentroids, iters = 3)
      graft.operators.Memo.setOracleDir(dirA)
      val sqlA = Similarity.oracles("sim_ivf_trained")
      graft.operators.Memo.setOracleDir(dirB)
      val sqlB = Similarity.oracles("sim_ivf_trained")
      assert(sqlA != sqlB, "each dir's oracle must embed its own fit")
      assert(sqlA.contains(java.lang.Double.toString(fitOf(dirA).head.head)))
      assert(sqlB.contains(java.lang.Double.toString(fitOf(dirB).head.head)))
    } finally graft.operators.Memo.setOracleDir(null)
  }

  test("similarity: PQ ANN scores through the bounded heap and stays sane") {
    val df = Similarity.simPqAnn(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert("TopKPerKey".r.findAllIn(plan).length == 2,
      s"expected partial+final TopKPerKeyExec in:\n$plan")
    val rows = df.collect()
    assert(rows.nonEmpty)
    // ADC cosine uses the RECONSTRUCTED candidate norm — approximate,
    // but it cannot stray far from [-1, 1] on quantized unit-ish vectors
    assert(rows.forall(r => math.abs(r.getAs[Double]("approx_cos")) <= 1.5))
    assert(rows.forall { r => val rk = r.getAs[Long]("rk"); rk >= 1 && rk <= 5 })
    // per-probe ranks are dense from 1
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      assert(g.map(_.getAs[Long]("rk")).sorted.toSeq == (1L to g.length).toSeq)
    }
  }

  test("pipeline: pipe_clean buckets every document exactly once") {
    val rows = graft.operators.Pipeline.queries("pipe_clean")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs") ==
        r.getAs[Long]("n_lowq") + r.getAs[Long]("n_dup") + r.getAs[Long]("n_kept"))
    }
  }

  test("packing: shard-key width is derived from the corpus size") {
    import graft.operators.Pipeline
    // thresholds: 16^d shards of PackDocsPerShard docs cover the corpus
    assert(Pipeline.packShardDigits(1) == 1)
    assert(Pipeline.packShardDigits(16 * 64) == 1)
    assert(Pipeline.packShardDigits(16 * 64 + 1) == 2)
    assert(Pipeline.packShardDigits(256 * 64) == 2)
    assert(Pipeline.packShardDigits(4096 * 64) == 3)
    assert(Pipeline.packShardDigits(100000000L) == 6)
    // a 100 TB-posture corpus still resolves (capped at 8 hex digits)
    assert(Pipeline.packShardDigits(Long.MaxValue) == 8)
  }

  test("packing: shard count grows with the configured key width") {
    import graft.operators.Pipeline
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val n1 = Pipeline.pipePackSharded(docs, 1).count()
    val n2 = Pipeline.pipePackSharded(docs, 2).count()
    assert(n1 <= 16, s"1 hex digit caps at 16 shards, got $n1")
    assert(n2 > n1, s"2-digit sharding must split further ($n2 <= $n1)")
    // token mass is invariant under re-sharding
    def toks(d: Int) = Pipeline.pipePackSharded(docs, d)
      .agg(org.apache.spark.sql.functions.sum("total_tokens")).head().getLong(0)
    assert(toks(1) == toks(2))
  }

  test("sampling: smp_split partitions the corpus exactly once, stably") {
    val rows = graft.operators.Pipeline.queries("smp_split")(spark, sf).collect()
    val n = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == n)
    assert(rows.map(_.getAs[String]("split")).toSet == Set("train", "val", "test"))
    val again = graft.operators.Pipeline.queries("smp_split")(spark, sf).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("sampling: smp_source_cap keeps <=15 per source via the bounded heap") {
    val df = graft.operators.Pipeline.queries("smp_source_cap")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // partial + final heap instance — the window row_number spelling
    // (full per-source sort) must NOT be what plans here
    assert("TopKPerKey".r.findAllIn(plan).length == 2,
      s"expected partial+final TopKPerKeyExec in:\n$plan")
    assert(!plan.contains("WindowExec"), s"unexpected window sort in:\n$plan")
    val perSource = df.groupBy("source").count().collect()
    assert(perSource.nonEmpty && perSource.forall(_.getAs[Long]("count") <= 15))
  }

  test("PermHash62 kernel == the JVM twin == the Catalyst digit spelling") {
    import graft.operators.Relational
    // edge keys: digit boundaries, the 2^31/p seams the widening fixed,
    // and a dense pseudorandom sweep
    val edge = Seq(0L, 1L, Relational.SkP - 1, Relational.SkP,
      Relational.SkP + 1, (1L << 31) - 1, 1L << 31, (1L << 31) + 1,
      Relational.SkP * Relational.SkP - 1, Relational.SkP * Relational.SkP,
      (1L << 62) - 1, 1L << 62, Long.MaxValue)
    val sweep = (0 until 2000).map(i => (i.toLong * 4611686018427387847L) & Long.MaxValue)
    val keys = (edge ++ sweep).distinct
    val got = keys.toDF("x")
      .select(col("x"), Relational.permHash62(col("x")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (k <- keys) {
      assert(got(k) == Relational.permHash62L(k), s"key $k")
      assert(got(k) >= 0L && got(k) < Relational.SkP * Relational.SkP, s"range of $k")
    }
    // the seam that motivated the widening: keys a multiple of p apart
    // no longer collide with certainty
    val collisions = (1 to 1000).count(i =>
      Relational.permHash62L(i.toLong) ==
        Relational.permHash62L(i.toLong + Relational.SkP))
    assert(collisions == 0, s"$collisions deterministic p-stride collisions")
  }

  test("cents() diverges from dec2*100 past 2 fraction digits (pinned)") {
    import graft.operators.Relational
    // cents rounds the double PRODUCT x*100; the decimal cast rounds the
    // shortest decimal reading of x. They agree on <= 2 fraction digits
    // and may not beyond: 1.005*100 and 0.285*100 land just below .5 in
    // binary, 2.675*100 rounds to exactly 267.5, and 0.125 is exact
    val got = Seq(1.005, 2.675, 0.125, 0.285).toDF("x")
      .select(col("x"), Relational.cents("x"),
        (col("x").cast("decimal(18,2)") * 100).cast("long"))
      .collect().map(r => r.getDouble(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(1.005 -> (100L, 101L), 2.675 -> (268L, 268L),
      0.125 -> (13L, 13L), 0.285 -> (28L, 29L)))
  }

  test("every column cents() reads has <= 2 fraction digits at sf0.001") {
    // the precondition under which cents == dec2*100 (Relational.cents)
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    for (c <- Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")) {
      val vs = li.select(col(c)).as[Double].collect()
      assert(vs.nonEmpty)
      val bad = vs.filterNot(v => (BigDecimal(v) * 100).isWhole)
      assert(bad.isEmpty, s"$c has values with > 2 fraction digits: ${bad.take(5).mkString(",")}")
    }
  }

  test("sketch aggregates stay within their error bounds") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val exact = li
      .groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.countDistinct(col("l_partkey")).as("exact_parts"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = graft.operators.Relational.qApproxSketch(spark, sf).collect()
    rows.foreach { r =>
      val flag = r.getString(0)
      val approx = r.getAs[Double]("approx_parts")
      val e = exact(flag).toDouble
      assert(math.abs(approx - e) / e < 0.1,
        s"KMV estimate $approx too far from exact $e")
      // median: rank-error bound — the estimate must sit within 8
      // rank-percent of the true median in the exact distribution
      val est = r.getAs[Double]("approx_median_qty")
      val qs = li.filter(col("l_returnflag") === flag)
        .select(col("l_quantity")).as[Double].collect()
      val below = qs.count(_ < est).toDouble / qs.length
      val atOrBelow = qs.count(_ <= est).toDouble / qs.length
      assert(below <= 0.5 + 0.08 && atOrBelow >= 0.5 - 0.08,
        s"$flag median est $est has rank window [$below, $atOrBelow]")
    }
  }

  test("emb_whiten: coordinates have mean 0, unit variance, zero cross-covariance") {
    val rows = graft.operators.Similarity.embWhiten(spark, sf).collect()
      .map(r => (r.getDouble(1), r.getDouble(2)))
    val n = rows.length.toDouble
    assert(n > 0)
    val m0 = rows.map(_._1).sum / n
    val m1 = rows.map(_._2).sum / n
    // whitening derives from the SAME exact moments, so the population
    // moments of the emitted coordinates are 0/1/0 by construction —
    // any drift beyond eigensolve noise is a formula bug
    assert(math.abs(m0) < 1e-6 && math.abs(m1) < 1e-6, s"means ($m0, $m1)")
    val v0 = rows.map(t => (t._1 - m0) * (t._1 - m0)).sum / n
    val v1 = rows.map(t => (t._2 - m1) * (t._2 - m1)).sum / n
    val c01 = rows.map(t => (t._1 - m0) * (t._2 - m1)).sum / n
    assert(math.abs(v0 - 1.0) < 1e-6, s"var w0 = $v0")
    assert(math.abs(v1 - 1.0) < 1e-6, s"var w1 = $v1")
    assert(math.abs(c01) < 1e-6, s"cov(w0, w1) = $c01")
  }

  test("KMV/bottom-k sketches are merge-order invariant (partitioning-independent)") {
    // the determinism claim the oracle gate rests on: state = k smallest
    // of a set/multiset, a commutative semilattice — ANY partitioning
    // (hence any partial/merge tree) must yield identical arrays
    import org.apache.spark.sql.graftexpr.SketchExpressions
    val df = spark.range(10000).select((col("id") % 7).as("grp"),
      graft.functions.hash60(col("id").cast("string")).as("h"),
      (col("id") % 101).cast("double").as("v"))
    def run(p: Int): Seq[(Long, Seq[Long], Seq[Double])] =
      df.repartition(p).groupBy("grp")
        .agg(SketchExpressions.kMinHash(col("h"), 64).as("hs"),
          SketchExpressions.kSmallestByHash(col("h"), col("v"), 64).as("vs"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Double](2)))
        .sortBy(_._1).toSeq
    val a = run(1)
    assert(a.forall(_._2.length == 64) && a.forall(_._3.length == 64))
    assert(a == run(13), "13-partition run differs from single-partition")
    assert(a == run(32), "32-partition run differs from single-partition")
    // sub-k group: exact content, still invariant
    val tiny = spark.range(10).select(lit(0L).as("grp"),
      graft.functions.hash60(col("id").cast("string")).as("h"),
      col("id").cast("double").as("v"))
    def runTiny(p: Int) = tiny.repartition(p).groupBy("grp")
      .agg(SketchExpressions.kMinHash(col("h"), 64).as("hs"),
        SketchExpressions.kSmallestByHash(col("h"), col("v"), 64).as("vs"))
      .collect().map(r => (r.getSeq[Long](1), r.getSeq[Double](2))).head
    val t = runTiny(1)
    assert(t._1.length == 10 && t._2.sorted == (0 until 10).map(_.toDouble))
    assert(t == runTiny(5))
  }

  test("text: quality and langid emit one row per document") {
    val n = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(TextAnalysis.txtQuality(spark, sf).count() == n)
    assert(TextAnalysis.txtLangid(spark, sf).count() == n)
    val langs = TextAnalysis.txtLangid(spark, sf)
      .select("pred_lang").distinct().as[String].collect().toSet
    assert(langs.subsetOf(Set("en", "es", "de", "fr", "und")))
  }

  /** Reference Murmur3_x86_32 (seed 42) over UTF-8 bytes with Spark's
    * exact byte handling: 4-byte little-endian words, then each
    * remaining tail byte SIGN-EXTENDED (Spark's hashUnsafeBytes reads
    * the tail through a signed byte load). This is the algorithm the
    * txt_hash_tf DuckDB oracle spells in SQL — pinning Spark's hash()
    * to it here pins the oracle too. */
  private def mm3Ref(s: String, seed: Int = 42): Int = {
    val data = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def mixK1(k: Int): Int = {
      var k1 = k * 0xcc9e2d51
      k1 = Integer.rotateLeft(k1, 15)
      k1 * 0x1b873593
    }
    def mixH1(h: Int, k1: Int): Int = {
      var h1 = h ^ k1
      h1 = Integer.rotateLeft(h1, 13)
      h1 * 5 + 0xe6546b64
    }
    var h1 = seed
    val aligned = data.length - data.length % 4
    var i = 0
    while (i < aligned) {
      val w = (data(i) & 0xff) | ((data(i + 1) & 0xff) << 8) |
        ((data(i + 2) & 0xff) << 16) | ((data(i + 3) & 0xff) << 24)
      h1 = mixH1(h1, mixK1(w))
      i += 4
    }
    while (i < data.length) {
      h1 = mixH1(h1, mixK1(data(i).toInt)) // signed byte, sign-extended
      i += 1
    }
    var h = h1 ^ data.length
    h ^= h >>> 16; h *= 0x85ebca6b
    h ^= h >>> 13; h *= 0xc2b2ae35
    h ^ (h >>> 16)
  }

  test("Spark hash() == the reference murmur3 the txt_hash_tf oracle replays") {
    import org.apache.spark.sql.functions.hash
    // fixed probes exercise every path: word-aligned lengths, 1-3 byte
    // tails, multi-byte UTF-8 (sign-extended tail bytes), empty string
    val fixed = Seq("hello", "a", "ab", "abc", "abcd", "the", "héllo",
      "x" * 13, "", "üö", "date2024")
    val gotF = fixed.toDF("tok").select(hash(col("tok"))).collect().map(_.getInt(0))
    fixed.zip(gotF).foreach { case (t, g) =>
      assert(g == mm3Ref(t), s"hash('$t') diverges from the reference murmur3")
    }
    // and the real corpus's tokens, end to end
    val toks = graft.sources.Tables.load(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.graftexpr.TextExpressions.wordNgrams(col("text"), 1)).as("tok"))
      .distinct().limit(2000)
    val rows = toks.select(col("tok"), hash(col("tok"))).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(1) == mm3Ref(r.getString(0)),
        s"corpus token '${r.getString(0)}' diverges")
    }
  }

  test("emb_quant_int8: |q| <= 127, half-step error bound, exact checksum replay") {
    val got = Similarity.embQuantInt8(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    val embs = graft.sources.Tables.load(spark, sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    assert(got.size == embs.count(_._2.exists(_ != 0.0)))
    embs.foreach { case (id, v) =>
      val amax = v.map(math.abs).max
      if (amax > 0.0) {
        val scale = 127.0 / amax
        val q = v.map(x => math.floor(x * scale + 0.5).toLong)
        assert(q.forall(x => math.abs(x) <= 127L), s"vec $id int8 domain")
        val err = v.zip(q).map { case (x, qq) => math.abs(x - qq.toDouble / scale) }.max
        // round-half-up keeps every element within half a quantization step
        assert(err <= 0.5 / scale + 1e-12, s"vec $id error bound")
        assert(got(id) == ((amax, q.sum, q.map(math.abs).sum,
          q.count(_ != 0L).toLong, err)), s"vec $id accounting")
      }
    }
  }

  test("range search: found <= truth per probe and the two faces agree") {
    val search = Similarity.simRangeSearch(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val rec = Similarity.simRangeRecall(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), if (r.isNullAt(3)) -1.0 else r.getDouble(3)))).toMap
    assert(rec.nonEmpty)
    rec.foreach { case (p, (nTrue, nFound, recall)) =>
      assert(nFound <= nTrue, s"probe $p: bucket in-range can never exceed truth")
      search.get(p).foreach { case (nCand, nInRange, maxCos) =>
        assert(nInRange == nFound, s"probe $p: the faces count the same candidates")
        assert(nInRange <= nCand && maxCos <= 1.0 + 1e-12, s"probe $p sanity")
      }
      if (nTrue > 0) assert(recall == nFound.toDouble / nTrue.toDouble, s"probe $p recall")
    }
    // truth replayed driver-side with the identical fold order
    val embs = graft.sources.Tables.load(spark, sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    val probes = embs.filter(_._1 < 5)
    probes.foreach { case (p, pe) =>
      val pn2 = dot(pe, pe)
      val nTrue = embs.count { case (id, e) =>
        id != p && dot(pe, e) / math.sqrt(pn2) / math.sqrt(dot(e, e)) >=
          Similarity.RangeTau
      }
      assert(rec(p)._1 == nTrue.toLong, s"probe $p exact truth")
    }
  }
}
