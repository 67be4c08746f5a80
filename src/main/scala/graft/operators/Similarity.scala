package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{cosineWithNorms, dot, localHash60, norm2}
import graft.sources.Tables
import graft.operators.Persists.PersistOps

/** SURVEY §2.E — similarity search over the `embeddings` table.
  *
  * Scale design: probes are broadcast, so brute force is a single narrow
  * scan with per-partition top-k (TakeOrderedAndProject merges), never a
  * global sort of n*k rows. The LSH path hashes every vector to a
  * hyperplane-sign bucket (one linear pass) and probes only join their
  * own bucket — the 100 TB pattern where brute force stops being viable.
  */
object Similarity {

  val NumPlanes = 6
  val Dim = 64

  /** Deterministic integer hyperplanes, embedded as literals in BOTH the
    * Spark plan and the oracle SQL (no cross-engine hashing involved). */
  val planes: Seq[Seq[Int]] = (0 until NumPlanes).map { p =>
    (0 until Dim).map(i => (localHash60(s"${p}_${i}") % 2001 - 1000).toInt)
  }

  private[operators] def bucketCol(emb: Column): Column =
    planes.zipWithIndex.map { case (w, p) =>
      when(dot(emb, typedLit(w)) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Bounded-heap top-k per probe via graft's native TopKPerKey operator
    * (SURVEY §2.I): the partial pass cuts every partition to k rows per
    * probe BEFORE the exchange, so the shuffle moves O(#probes * k *
    * #partitions) rows, never the n*#probes scored relation, and no
    * per-probe full sort ever runs. The rank is then recomputed with a
    * window over the <=k survivors per probe — bounded data, trivial sort. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(desc("cos"), asc("vec_id"))
    org.apache.spark.sql.graftexpr.TopKPerKey
      .perKey(scored, Seq("probe_id"), Seq(("cos", false), ("vec_id", true)), k)
      .withColumn("rk", row_number().over(w).cast("bigint"))
      // bounded output (<= k rows per probe, fixed probe workload at any
      // corpus scale): fused single-task presentation sort (r22) — with
      // TopKPerKeyExec now propagating its child partitioning, the whole
      // rank+sort tail runs above ONE exchange
      .transform(Present.fused("probe_id", "rk"))
  }

  /** k-NN SELF-join: every vector's [[KnnK]] nearest same-label
    * neighbors — the all-vectors primitive behind semantic dedup,
    * label-noise detection and kNN classification, distinct from the
    * probe-based ANN queries (those broadcast <= 5 probes; here BOTH
    * sides are the corpus). Candidates come from the hyperplane buckets
    * with multi-probe at depth [[Dedup.EmbedProbeDepth]] — a directed
    * (q, n) candidate matches through exactly ONE mask (the XOR of the
    * two buckets), so no dedup step — and the per-vector top-k runs
    * through the bounded-heap [[org.apache.spark.sql.graftexpr.TopKPerKey]]:
    * the shuffle moves at most k rows per (vector, partition), never
    * the candidate relation, and nothing corpus-sized broadcasts. */
  val KnnK = 3

  def simKnnJoin(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"))
    // the dedup family's candidate core: same buckets, same masks —
    // and the same skew bound (Joins.skewBound, broadcastable counts:
    // the key space is 2^planes buckets × labels by construction), so a
    // crowded hyperplane region spreads over ceil(n/cap) reduce tasks
    // instead of serializing one.
    val (e, probed0) = Dedup.bucketProbe(raw, Dedup.EmbedProbeDepth)
    val probed = probed0
      .select(col("vec_id").as("probe_id"), col("label").as("qlabel"),
        col("emb").as("qe"), col("n2").as("qn2"), col("probe"))
    val (eS, probedR) = Joins.skewBound(e, probed,
      Seq("bucket", "label"), Seq("probe", "qlabel"),
      hash(col("vec_id")), broadcastCounts = true)
    val cand = probedR.join(eS.hint("shuffle_hash"),
        col("probe") === col("bucket") && col("qlabel") === col("label") &&
          col("__split_r") === col("__split") &&
          col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id"),
        cosineWithNorms(dot(col("qe"), col("emb")), col("qn2"), col("n2")).as("cos"))
    rankTopK(cand, KnnK)
  }

  /** Exact cosine top-10 for each probe (vec_id < 5), brute force.
    * Norms are precomputed per side; the scan does one codegen'd dot per
    * (vector, probe). */
  def simTopkBruteforce(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("n2", norm2(col("emb")))
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("emb").as("pe"), col("n2").as("pn2"))
    val scored = e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        cosineWithNorms(dot(col("pe"), col("emb")), col("pn2"), col("n2")).as("cos"))
    rankTopK(scored, 10)
  }

  /** Random-hyperplane LSH ANN: bucket every vector once, probe only its
    * own bucket, exact cosine re-rank inside the bucket. */
  def simLshAnn(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("bucket", bucketCol(col("emb")))
      .withColumn("n2", norm2(col("emb")))
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("emb").as("pe"),
        col("bucket").as("pb"), col("n2").as("pn2"))
    val scored = e.join(broadcast(probes),
        col("bucket") === col("pb") && col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        cosineWithNorms(dot(col("pe"), col("emb")), col("pn2"), col("n2")).as("cos"))
    rankTopK(scored, 5)
  }

  /** Cosine radius threshold for the range-search faces: at the corpus'
    * cosine geometry τ = 0.2 keeps ~25-30 true neighbors per probe. */
  val RangeTau = 0.2

  /** Cosine RANGE search ("every vector within radius", the
    * fixed-threshold companion of top-k — the retrieval mode behind
    * near-duplicate sweeps and density estimates): candidates from the
    * probe's hyperplane bucket (the [[simLshAnn]] posture — one linear
    * bucketing pass, probes join only their own bucket, never the
    * corpus), exact cosine inside, per probe the candidate count, the
    * in-range count at [[RangeTau]] and the best cosine (an order-free
    * max). At 100 TB the per-probe work is one bucket, not the scan. */
  def simRangeSearch(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("bucket", bucketCol(col("emb")))
      .withColumn("n2", norm2(col("emb")))
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("emb").as("pe"),
        col("bucket").as("pb"), col("n2").as("pn2"))
    e.join(broadcast(probes),
        col("bucket") === col("pb") && col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"),
        cosineWithNorms(dot(col("pe"), col("emb")), col("pn2"), col("n2")).as("cos"))
      .groupBy("probe_id")
      .agg(count(lit(1)).as("n_cand"),
        sum(when(col("cos") >= RangeTau, 1L).otherwise(0L)).as("n_in_range"),
        max(col("cos")).as("max_cos"))
      .transform(Present.fused("probe_id"))
  }

  /** Range-search RECALL: the LSH bucket's in-range count against the
    * exact brute-force in-range count per probe — the quality metric of
    * the radius path (every ANN family here ships one). Integer counts
    * + one exact ratio; the two 5-row probe aggregates meet in a
    * shuffle_hash join (fact-derived, never broadcast). */
  def simRangeRecall(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("bucket", bucketCol(col("emb")))
      .withColumn("n2", norm2(col("emb")))
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("emb").as("pe"),
        col("bucket").as("pb"), col("n2").as("pn2"))
    val cos = cosineWithNorms(dot(col("pe"), col("emb")), col("pn2"), col("n2"))
    val truth = e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), cos.as("cos"))
      .groupBy("probe_id")
      .agg(sum(when(col("cos") >= RangeTau, 1L).otherwise(0L)).as("n_true"))
    val found = e.join(broadcast(probes),
        col("bucket") === col("pb") && col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), cos.as("cos"))
      .groupBy("probe_id")
      .agg(sum(when(col("cos") >= RangeTau, 1L).otherwise(0L)).as("n_found"))
    truth.join(found.hint("shuffle_hash"), Seq("probe_id"), "left")
      .select(col("probe_id"), col("n_true"),
        coalesce(col("n_found"), lit(0L)).as("n_found"),
        when(col("n_true") > 0,
          coalesce(col("n_found"), lit(0L)).cast("double") /
            col("n_true").cast("double")).as("recall"))
      .transform(Present.fused("probe_id"))
  }

  /** Sign-bit (binary) embedding profile — the 1-bit quantization ANN
    * stacks run as the cheap pre-filter (binarize by sign, compare by
    * Hamming distance, exact-rerank the survivors; the dense-vector
    * SimHash): per probe the Hamming-distance HISTOGRAM in buckets of
    * 8 bits plus exact min/max — the separation profile that tells an
    * engineer whether sign bits preserve this corpus' neighborhoods.
    * Signatures are a narrow per-vector map; distances are exact
    * integer folds against ≤ 5 broadcast probe signatures. */
  def simSignHamming(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"),
          v => when(v > 0.0, 1).otherwise(0)).as("sig"))
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("sig").as("psig"))
    e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"),
        aggregate(zip_with(col("sig"), col("psig"), (x, y) => abs(x - y)),
          lit(0), (a, x) => a + x).as("h"))
      .groupBy(col("probe_id"), expr("CAST(h DIV 8 AS BIGINT)").as("h_bucket"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("h")).cast("bigint").as("min_h"),
        max(col("h")).cast("bigint").as("max_h"))
      .transform(Present.fused("probe_id", "h_bucket"))
  }

  /** Symmetric int8 quantization per vector (the embedding-compression
    * pass ANN serving runs before indexing — 4× smaller vectors, dot
    * products in int8): scale = 127/max|v|, q = floor(v·scale + 0.5)
    * (round-half-up, deterministic in IEEE both engines). A pure narrow
    * map — no shuffle anywhere but the output sort. Emits per vector
    * the scale inputs and the quantization ACCOUNTING: exact integer
    * checksums (sum, |sum|, nonzeros) and the max absolute
    * reconstruction error (order-free max over |v − q/scale|). */
  def embQuantInt8(s: SparkSession, dir: String): DataFrame = {
    // r21: amax and the four quantization folds run as native compiled
    // kernels (AbsMax / QuantInt8Stats — one pass for all four stats)
    // instead of six interpreted HOFs; element semantics bit-identical
    // (spec-gated in VectorSpec), the oracle keeps the HOF spelling.
    import org.apache.spark.sql.graftexpr.QuantExpressions
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("amax", QuantExpressions.absMax(col("emb")))
      .filter(col("amax") > 0.0)
      .withColumn("scale", lit(127.0) / col("amax"))
    e.withColumn("st", QuantExpressions.quantInt8Stats(col("emb"), col("scale")))
      .select(col("vec_id"), col("amax"),
        col("st.sum_q").as("sum_q"),
        col("st.sum_abs_q").as("sum_abs_q"),
        col("st.nnz").as("nnz"),
        col("st.err_max").as("err_max"))
      .orderBy("vec_id")
  }

  /** Recall@5 of the LSH ANN against the exact brute-force ground truth
    * — the ANN QUALITY metric every production vector pipeline tracks
    * next to its latency (an index you can't measure is an index you
    * can't trust). Both sides are the library's own deterministic
    * pipelines ([[simTopkBruteforce]] cut to 5, [[simLshAnn]]); the
    * comparison itself is a left join over the <= 5·#probes result rows
    * (bounded, but probe-derived from fact-scale scans, so it is pinned
    * shuffle_hash — never a fact-subtree broadcast). Output is integer
    * hit counts and the exact n/5 recall, so no engine-specific double
    * ordering is involved at all. */
  def simAnnRecall(s: SparkSession, dir: String): DataFrame =
    annRecall(simLshAnn(s, dir), s, dir)

  /** Recall@5 of the IVF index against the same exact ground truth —
    * with [[simAnnRecall]] (LSH) and [[simPqRecall]], every ANN scale
    * path ships with its own quality metric. */
  def simIvfRecall(s: SparkSession, dir: String): DataFrame =
    annRecall(simIvfAnn(s, dir), s, dir)

  /** Recall@5 of the PQ/ADC index — the quantization-error face: PQ
    * scores approximate cosines, so its recall is where codebook size
    * shows up. Same compare harness. */
  def simPqRecall(s: SparkSession, dir: String): DataFrame =
    annRecall(simPqAnn(s, dir), s, dir)

  /** The shared compare harness: left-join an index's top-5 onto the
    * brute-force top-5 per probe; bounded rows, shuffle_hash pinned,
    * id-sets only (no doubles cross engines). The ground-truth relation
    * is persisted — all four recall queries share ONE brute-force pass
    * per session (CacheManager dedups the identical plan), the
    * signature-table posture applied to the compare harness. */
  private def annRecall(ann: DataFrame, s: SparkSession, dir: String): DataFrame = {
    val bf = simTopkBruteforce(s, dir).filter(col("rk") <= 5)
      .select(col("probe_id"), col("vec_id"))
      .cachedPersist()
    val a = ann
      .select(col("probe_id").as("a_pid"), col("vec_id").as("a_vid"))
      .hint("shuffle_hash")
    bf.join(a,
        col("probe_id") === col("a_pid") && col("vec_id") === col("a_vid"), "left")
      .groupBy("probe_id")
      .agg(count(col("a_vid")).as("n_hits"))
      .select(col("probe_id"), col("n_hits"),
        (col("n_hits").cast("double") / lit(5.0)).as("recall"))
      .transform(Present.fused("probe_id"))
  }

  /** Class-separability profile of the embedding space — mean pairwise
    * dot product WITHIN each label vs ACROSS labels, the embedding-
    * quality diagnostic ("are my classes clustered?") that naively
    * costs O(n²·d) pairs but collapses to SUFFICIENT STATISTICS:
    * Σ_{i≠j∈l} xᵢ·xⱼ = ‖S_l‖² − Σ‖x‖² and Σ_{i∈l, j∉l} xᵢ·xⱼ =
    * S_l·(S_G − S_l), so ONE O(n·d) pass (per-label per-dim sums +
    * per-vector norms, both map-side combinable into O(labels·d) keys)
    * replaces the pair join entirely — the only posture that survives
    * 100 TB. Cross-engine exactness: components floor-quantize to 1e-6
    * BIGINTs (the emb_label_centroids trick) so every sum is integer-
    * exact; the two quadratic folds then run in double over the
    * dimension-ascending order IDENTICALLY in both engines (products
    * exact-rounded the same, adds left-folded in the same order). */
  def embClassSep(s: SparkSession, dir: String): DataFrame = {
    val q = Tables.load(s, dir, "embeddings")
      .select(col("label"),
        transform(col("embedding").cast("array<double>"),
          v => floor(v * lit(1e6)).cast("long")).as("q"))
    // per-label scalars: n and the exact integer Σ‖x‖²
    val norms = q
      .select(col("label"),
        aggregate(col("q"), lit(0L), (acc, x) => acc + x * x).as("qn2"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), sum(col("qn2")).as("ql"))
    // per-(label, dim) integer sums — O(labels·d) keys, map-side combine
    val sld = q
      .select(col("label"), posexplode(col("q")).as(Seq("d", "qv")))
      .groupBy("label", "d")
      .agg(sum(col("qv")).as("sld"))
    // global per-dim sums ride a window over the tiny (labels·d) relation
    val wd = org.apache.spark.sql.expressions.Window.partitionBy("d")
    val vecs = sld
      .withColumn("sgd", sum(col("sld")).over(wd))
      .groupBy("label")
      .agg(
        transform(array_sort(collect_list(struct(col("d"), col("sld")))),
          x => x.getField("sld").cast("double")).as("ls"),
        transform(array_sort(collect_list(struct(col("d"), col("sgd")))),
          x => x.getField("sgd").cast("double")).as("gs"))
      .select(col("label"),
        aggregate(transform(col("ls"), v => v * v), lit(0.0),
          (acc, v) => acc + v).as("ssq"),
        aggregate(zip_with(col("ls"), col("gs"), (a, b) => a * (b - a)), lit(0.0),
          (acc, v) => acc + v).as("cdot"))
    // global count as a 1-row aggregate of the O(labels) relation (a
    // global window would single-partition; the crossJoin is 1-row)
    val nG = norms.agg(sum(col("n_vecs")).as("n_g"))
    norms.join(vecs.hint("shuffle_hash"), "label")
      .crossJoin(nG)
      .select(col("label"), col("n_vecs"),
        when(col("n_vecs") > 1,
          (col("ssq") - col("ql").cast("double")) /
            (col("n_vecs").cast("double") * (col("n_vecs") - 1).cast("double")) /
            lit(1e12)).as("within_dot_mean"),
        when(col("n_g") > col("n_vecs"),
          col("cdot") /
            (col("n_vecs").cast("double") * (col("n_g") - col("n_vecs")).cast("double")) /
            lit(1e12)).as("cross_dot_mean"))
      .transform(Present.fused("label"))
  }

  /** Quantization scale for the embedding Gram: q = floor(1e3·x)
    * BIGINT keeps every pairwise-product SUM below 2^53 at the test
    * scale factors (|q| ≲ 2·10³, so q_i·q_j ≲ 4·10⁶ and 10⁵ rows sum
    * to ≲ 4·10¹¹) — exact, order-free, and the BIGINT→anything casts
    * agree cross-engine. At a true 100 TB row count the sums widen to
    * DECIMAL(38,0) (same plan, wider accumulator — the arr_gram
    * posture); the coarser scale is fine for a spectrum DIAGNOSTIC. */
  val EmbGramScale = 1e3

  /** The exact quantized-integer second moments of the embedding
    * matrix — Gram + per-dim sums + count — in ONE pass through the
    * native [[org.apache.spark.sql.graftexpr.GramLong]]
    * TypedImperativeAggregate (the mergeable-summaries posture): every
    * row folds into a ~33 KB per-partition buffer where it sits, the
    * shuffle moves ONE buffer per partition, and the output is one
    * (Dim²+Dim+1)-long row. Persisted: three faces read it ([[embGram]],
    * [[embPcaVar]], [[embPcaProject]]'s basis). The first spelling —
    * posexplode self-join on vec_id — was correct but shuffled n·Dim
    * rows per side and pushed n·Dim² rows through the aggregate; the
    * measured cost was not the query itself but a uniform +5 s of JVM
    * pressure across the REST of the bench sweep (r17; the sketch
    * spelling is also the only shape whose wire cost is independent of
    * the row count at 100 TB). */
  private def embGramRel(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .select(transform(col("embedding").cast("array<double>"),
        v => floor(v * lit(EmbGramScale)).cast("long")).as("q"))
      .agg(org.apache.spark.sql.graftexpr.SketchExpressions
        .gramLong(col("q"), Dim).as("gb"))
      .cachedPersist()

  /** The collected (gram, sums, n) model artifact — one bounded row. */
  private def embMoments(s: SparkSession, dir: String): (Array[Array[Long]], Array[Long], Long) = {
    val arr = embGramRel(s, dir).collect().head.getSeq[Long](0).toArray
    val g = Array.tabulate(Dim, Dim)((i, j) => arr(i * Dim + j))
    val sums = Array.tabulate(Dim)(i => arr(Dim * Dim + i))
    (g, sums, arr.last)
  }

  /** The exact centered second-moment matrix n·G − S·Sᵀ of
    * [[embMoments]] (every operand bounded well under 2^63 at the
    * quantized scale), as doubles for the eigensolve. */
  private def centered(m: (Array[Array[Long]], Array[Long], Long)): Array[Array[Double]] = {
    val (g, sums, n) = m
    Array.tabulate(Dim, Dim)((i, j) => (n * g(i)(j) - sums(i) * sums(j)).toDouble)
  }

  /** The embedding-space Gram itself — the distributed half of every
    * second-moment diagnostic over the corpus's embedding matrix (PCA
    * spectrum, whitening, covariance): Dim² exact-integer rows, read
    * off the one persisted aggregate row. */
  def embGram(s: SparkSession, dir: String): DataFrame =
    embGramRel(s, dir)
      .select(posexplode(slice(col("gb"), 1, Dim * Dim)).as(Seq("idx", "g")))
      .select(floor(col("idx") / lit(Dim)).cast("bigint").as("i"),
        (col("idx") % lit(Dim)).cast("bigint").as("j"), col("g"))
      .transform(Present.fused("i", "j"))

  /** PCA spectrum of the embedding corpus (eigenvalues of the CENTERED
    * quantized second-moment matrix, top 16) — the intrinsic-
    * dimensionality diagnostic an embedding-quality dashboard shows
    * next to [[embClassSep]]: how many directions carry the corpus's
    * variance, and how fast the tail decays. Distributed work =
    * [[embGramRel]]'s one persisted pass + the per-dim integer sums;
    * centering runs driver-side in EXACT Long arithmetic
    * (n·G_ij − S_i·S_j, every operand bounded well under 2^63 at the
    * quantized scale), and the 64×64 eigensolve is the deterministic
    * cyclic Jacobi ([[graft.arrays.Eigen]]) on a model artifact — the
    * arr_svd_vals posture at the embedding face. Eigenvalues are
    * emitted in the RAW centered-integer units (exact inputs →
    * deterministic doubles; the oracle embeds them as round-trip-exact
    * literals). */
  def embPcaVar(s: SparkSession, dir: String): DataFrame = {
    val eig = Memo.artifact(s, dir, "sim.emb_pca", "embeddings")(
      graft.arrays.Eigen.symEigenvalues(centered(embMoments(s, dir))).take(16))
    import s.implicits._
    eig.zipWithIndex.map { case (v, k) => (k.toLong, v) }
      .toDF("k", "lam").transform(Present.fused("k"))
  }

  /** How many principal components [[embPcaProject]] keeps. */
  val EmbPcaK = 2

  /** Project every embedding onto the corpus's top-[[EmbPcaK]]
    * principal directions — [[graft.operators.ArrayQueries.arrPcaProject]]'s
    * twin at the embedding face (the dimensionality-reduction/whitening
    * serve step after [[embPcaVar]]'s diagnostic): the eigenbasis comes
    * from the SAME deterministic Jacobi on the SAME exact centered
    * integer matrix (one persisted Gram pass + per-dim sums, zero new
    * row-scale work), and the projection is a distributed per-vector
    * LEFT FOLD over the QUANTIZED integer components in ascending-dim
    * order — identical exact integers × identical literal weights ×
    * identical fold sequence = identical result bits, the §5
    * ordered-fold discipline (projection of the uncentered quantized
    * vector; subtracting the constant mean offset shifts every score
    * equally and is left to the consumer, documented). */
  def embPcaProject(s: SparkSession, dir: String): DataFrame = {
    val top = Memo.artifact(s, dir, "sim.emb_pca_vecs", "embeddings")(
      graft.arrays.Eigen.symEigen(centered(embMoments(s, dir)))._2.take(EmbPcaK))
    val q = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"),
          v => floor(v * lit(EmbGramScale)).cast("long")).as("q"))
    val projCols = top.zipWithIndex.map { case (vk, k) =>
      val varr = array(vk.map(lit(_)): _*)
      aggregate(
        zip_with(col("q"), varr, (x, w) => x.cast("double") * w),
        lit(0.0), (acc, t) => acc + t).as(s"pc$k")
    }
    q.select(col("vec_id") +: projCols: _*).orderBy("vec_id")
  }

  /** [[embGram]] through the 128-bit [[org.apache.spark.sql.graftexpr.GramWide]]
    * widening — the TRUE-scale spelling, oracle-gated end-to-end: the
    * int128 accumulate + DECIMAL(38,0) eval must reproduce DuckDB's
    * HUGEINT sums exactly. Emitted as the integer's decimal STRING
    * (DECIMAL(38,0) survives parquet but the oracle harness's pandas
    * bridge coerces wide decimals to float64 — the string gate is
    * lossless where a float compare would silently round). Same wire
    * shape as emb_gram: ONE buffer per partition, ~66 KB at dim 64. */
  def embGramWide(s: SparkSession, dir: String): DataFrame = {
    val gb = Tables.load(s, dir, "embeddings")
      .select(transform(col("embedding").cast("array<double>"),
        v => floor(v * lit(EmbGramScale)).cast("long")).as("q"))
      .agg(org.apache.spark.sql.graftexpr.SketchExpressions
        .gramWide(col("q"), Dim).as("gb"))
    gb.select(posexplode(slice(col("gb"), 1, Dim * Dim)).as(Seq("idx", "g")))
      .select(floor(col("idx") / lit(Dim)).cast("bigint").as("i"),
        (col("idx") % lit(Dim)).cast("bigint").as("j"),
        col("g").cast("string").as("g"))
      .transform(Present.fused("i", "j"))
  }

  /** How many whitened coordinates [[embWhiten]] emits. */
  val EmbWhitenK = 2

  /** PCA-whitening of the embedding corpus (VERDICT r17 #4's embedding
    * face): the top-[[EmbWhitenK]] whitened coordinates
    * w_k = (v_k·x − v_k·mean)/√λ_k — unit-variance, decorrelated
    * axes, the standard preprocessing before cosine/clustering when one
    * direction dominates. All model scalars derive DRIVER-side from the
    * SAME persisted exact integer moments as [[embPcaVar]] (centered
    * matrix n·G − S·Sᵀ, deterministic Jacobi; λ_true = λ_int/n², so
    * scale a_k = n/√λ_int and offset b_k = −a_k·(v_k·S)/n), leaving the
    * distributed part exactly [[embPcaProject]]'s ordered quantized
    * fold × literal weights, then one affine map spelled
    * operand-for-operand with the oracle. Spec gates mean≈0 / var≈1 /
    * cross-cov≈0 of the emitted coordinates (FunctionsSpec). */
  def embWhiten(s: SparkSession, dir: String): DataFrame = {
    // per mode (eigenvector, scale a, offset b) with w = a·(v·q) + b
    val params = Memo.artifact(s, dir, "sim.emb_whiten", "embeddings") {
      val m @ (_, sums, n) = embMoments(s, dir)
      val (eig, vecs) = graft.arrays.Eigen.symEigen(centered(m))
      val nD = n.toDouble
      (0 until EmbWhitenK).map { k =>
        require(eig(k) > 1e-9,
          s"emb_whiten: direction $k has no variance (lam=${eig(k)})")
        val a = nD / math.sqrt(eig(k))
        val meanDot = vecs(k).zip(sums).map { case (v, sv) => v * sv.toDouble }.sum / nD
        (vecs(k), a, -meanDot * a)
      }
    }
    val q = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"),
          v => floor(v * lit(EmbGramScale)).cast("long")).as("q"))
    val cols = params.zipWithIndex.map { case ((vk, a, b), k) =>
      val varr = array(vk.map(lit(_)): _*)
      (aggregate(
        zip_with(col("q"), varr, (x, w) => x.cast("double") * w),
        lit(0.0), (acc, t) => acc + t) * lit(a) + lit(b)).as(s"w$k")
    }
    q.select(col("vec_id") +: cols: _*).orderBy("vec_id")
  }

  /** IVF ANN with a fixed coarse quantizer: the first [[NumCentroids]]
    * vectors act as centroids (broadcast); every vector is assigned to
    * its nearest centroid by squared L2 (one narrow pass), probes search
    * only their own inverted list, exact cosine re-ranks inside it. A
    * production build would train the quantizer with k-means — the
    * assignment/search plan shape is identical; a fixed quantizer keeps
    * the query deterministic for the oracle. */
  val NumCentroids = 8

  def simIvfAnn(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("n2", norm2(col("emb")))
    // The coarse quantizer is a tiny model artifact (NumCentroids x Dim
    // doubles) — collecting it to the driver is the standard IVF shape
    // (a production build loads trained centroids the same way).
    // Assignment is then a narrow scan: argmin over centroid literals via
    // lexicographic struct min — zero shuffle, no n*k row explosion.
    // d2 = ((n2 - 2*dot) + cn2); same association order in the oracle.
    val centroids = e.filter(col("vec_id") < NumCentroids)
      .select(col("vec_id"), col("emb"), col("n2"))
      .collect()
      .sortBy(_.getLong(0))
    val distStructs = centroids.map { r =>
      val cemb = r.getSeq[Double](1)
      struct(
        (col("n2") - lit(2.0) * dot(col("emb"), typedLit(cemb)) + lit(r.getDouble(2))).as("d2"),
        lit(r.getLong(0)).as("cid"))
    }
    // coalesce makes `cluster` provably non-nullable (the argmin never
    // IS null): otherwise the cluster===pc join infers IsNotNull(cluster)
    // and pushes it into the scan with the WHOLE assignment argmin
    // inlined — the 8x64-dim dot chain evaluated twice per row
    val assigned = e.withColumn("cluster",
      coalesce(array_min(array(distStructs.toIndexedSeq: _*)).getField("cid"), lit(-1L)))
    val probes = assigned.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("emb").as("pe"),
        col("n2").as("pn2"), col("cluster").as("pc"))
    val scored = assigned.join(broadcast(probes),
        col("cluster") === col("pc") && col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        cosineWithNorms(dot(col("pe"), col("emb")), col("pn2"), col("n2")).as("cos"))
    rankTopK(scored, 5)
  }

  /** Deterministic Lloyd's k-means — the declared training path for
    * [[simIvfAnn]]'s coarse quantizer (its Scaladoc: "k-means training
    * would slot in without changing the plan shape").
    *
    * Scale design: the model (k x dim doubles) lives on the driver, like
    * any broadcastable model artifact. Per iteration:
    *   1. assignment — a NARROW scan: argmin over centroid literals via
    *      lexicographic struct min (no crossJoin, no shuffle, no n*k row
    *      explosion; identical shape to [[simIvfAnn]]'s assignment);
    *   2. update — posexplode to (cluster, dim, partial) and a
    *      partial-agg shuffle of O(k * dim * #partitions) scalars, never
    *      vectors.
    * Init is the k lowest-`vec_id` vectors, so the fit is deterministic
    * and spec-checkable; empty clusters keep their previous centroid
    * (the standard Lloyd's degenerate-case choice). The trained model is
    * NOT oracle-gated: double summation order differs across engines, so
    * cross-engine hash equality cannot hold (SURVEY §5's reason to avoid
    * bare double aggregation); the spec asserts convergence + determinism.
    *
    * Input: (vec_id: bigint, emb: array<double>). */
  def trainCentroids(e: DataFrame, k: Int, iters: Int): IndexedSeq[IndexedSeq[Double]] = {
    require(k >= 1 && iters >= 0)
    val base = e.select(col("vec_id"), col("emb"))
    var cents: IndexedSeq[IndexedSeq[Double]] = base.orderBy("vec_id").limit(k)
      .select("emb").collect().map(_.getSeq[Double](0).toIndexedSeq).toIndexedSeq
    require(cents.length == k, s"need >= $k vectors to init $k centroids")
    for (_ <- 0 until iters) {
      // d2 up to the per-row constant |x|^2: |c|^2 - 2<x,c>; ties break
      // toward the lower centroid id via the struct's second field
      val distStructs = cents.zipWithIndex.map { case (c, i) =>
        struct(
          (lit(c.map(x => x * x).sum) - lit(2.0) * dot(col("emb"), typedLit(c))).as("d2"),
          lit(i).as("cid"))
      }
      val assigned = base.withColumn("cluster",
        array_min(array(distStructs: _*)).getField("cid"))
      val sums = assigned
        .select(col("cluster"), posexplode(col("emb")).as(Seq("d", "v")))
        .groupBy("cluster", "d")
        .agg(sum("v").as("s"), count(lit(1)).as("n"))
        .collect()
        .groupBy(_.getAs[Int]("cluster"))
      cents = cents.zipWithIndex.map { case (old, i) =>
        sums.get(i) match {
          case Some(rows) =>
            val byDim = rows.map(r =>
              r.getAs[Int]("d") -> (r.getAs[Double]("s") / r.getAs[Long]("n"))).toMap
            IndexedSeq.tabulate(old.length)(d => byDim(d))
          case None => old // empty cluster
        }
      }
    }
    cents
  }

  /** Persist a trained quantizer as a tiny parquet model table
    * `(cid: int, centroid: array<double>)` — the hand-off between the
    * training job and the serving/search jobs, which at production scale
    * run as separate applications against shared storage. The model is
    * k x dim doubles, so one file; ordering is restored on load. */
  def saveCentroids(s: SparkSession, cents: IndexedSeq[IndexedSeq[Double]], path: String): Unit = {
    import s.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cid", "centroid")
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  /** Reload a quantizer written by [[saveCentroids]], in cid order. */
  def loadCentroids(s: SparkSession, path: String): IndexedSeq[IndexedSeq[Double]] =
    s.read.parquet(path).orderBy("cid")
      .collect()
      .map(_.getSeq[Double](1).toIndexedSeq)
      .toIndexedSeq

  // [[simIvfTrained]] (defined below, after its memo) is [[simIvfAnn]]
  // with a TRAINED coarse quantizer: trainCentroids (k-means, 3 Lloyd's
  // iterations) replaces the fixed first-k centroids; the
  // assignment/search plan is IDENTICAL — only the centroid literals
  // differ. Oracle-gated via [[trainedIvfSql]]: the fit itself never
  // crosses engines (its double summation order is engine-specific) —
  // only the trained VALUES do, embedded as literals after training.
  /** Product-quantization ANN — the third scale path beside the
    * hyperplane-LSH buckets and the IVF lists: vectors are stored as
    * [[NumSubspaces]] one-byte codes (each subspace quantized against
    * its own [[NumCodes]]-entry codebook), and probes score candidates
    * by asymmetric distance computation — per-probe lookup tables
    * `ptab_m[j] = <probe_m, codeword_mj>` are built once (broadcast with
    * the probes), so scoring one candidate is [[NumSubspaces]] table
    * lookups instead of a [[Dim]]-wide dot. At 100 TB this is the path
    * where even reading full vectors for re-rank is too expensive:
    * the scan touches only the code columns (Dim doubles -> M bytes per
    * row), encoding is one narrow pass, and the top-k runs through the
    * bounded-heap TopKPerKey. Codebooks here are sub-vectors of the
    * first [[NumCodes]] vectors (the same fixed-quantizer determinism
    * trick as [[simIvfAnn]] — per-subspace k-means would slot in
    * without changing the plan); the approximate cosine uses the
    * reconstructed candidate norm, exactly as the oracle recomputes it. */
  val NumSubspaces = 4
  val NumCodes = 8
  private val SubDim = Dim / NumSubspaces

  def simPqAnn(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val codeVecs = e.filter(col("vec_id") < NumCodes)
      .collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toIndexedSeq)
    val codebook: IndexedSeq[IndexedSeq[IndexedSeq[Double]]] =
      (0 until NumSubspaces).map(m => (0 until NumCodes).map(j =>
        codeVecs(j).slice(m * SubDim, (m + 1) * SubDim)))
    pqSearch(e, codebook)
  }

  /** The PQ encode/ADC-score/top-k plan shared by the fixed-codebook
    * [[simPqAnn]] and the k-means-trained [[simPqTrained]] — only the
    * codebook literals differ. ([[simIvfpqAnn]] has its own search:
    * residual encoding makes both its encode and its score math
    * cluster-dependent.) */
  private def pqSearch(e: DataFrame,
      codebook: IndexedSeq[IndexedSeq[IndexedSeq[Double]]]): DataFrame = {
    // |c|^2 with the same sequential fold order as the dot expressions
    // (and the oracle's list_reduce), so argmin ties break identically
    val cn2 = codebook.map(_.map(_.foldLeft(0.0)((a, x) => a + x * x)))

    def subv(c: Column, m: Int): Column = slice(c, m * SubDim + 1, SubDim)

    // encode: per subspace, argmin_j (|c|^2 - 2<x_m, c_mj>), ties to the
    // lower code id (the per-x |x_m|^2 constant cannot change the argmin)
    val codeCols = (0 until NumSubspaces).map { m =>
      array_min(array((0 until NumCodes).map { j =>
        struct(
          (lit(cn2(m)(j)) -
            lit(2.0) * dot(subv(col("emb"), m), typedLit(codebook(m)(j)))).as("d2"),
          lit(j).as("cid"))
      }: _*)).getField("cid").as(s"code$m")
    }
    val enc0 = e.select(col("vec_id") +: codeCols: _*)
    // reconstructed squared norm of the quantized candidate
    val rn2 = (0 until NumSubspaces)
      .map(m => element_at(typedLit(cn2(m).toSeq), col(s"code$m") + 1))
      .reduce(_ + _)
    // persisted (signature-table posture): the encode — M argmins over
    // NumCodes codeword dots per row — is the index BUILD; caching the
    // skinny (vec_id, codes, rn2) relation lets the recall face (which
    // re-derives the same plan) and re-runs serve it without
    // re-quantizing the corpus
    val enc = enc0.withColumn("rn2", rn2)
      .cachedPersist()
    val probes = e.filter(col("vec_id") < 5)
      .withColumn("pn2", norm2(col("emb")))
      .select(Seq(col("vec_id").as("probe_id"), col("pn2")) ++
        (0 until NumSubspaces).map { m =>
          array((0 until NumCodes).map(j =>
            dot(subv(col("emb"), m), typedLit(codebook(m)(j)))): _*).as(s"ptab$m")
        }: _*)
    val approxIp = (0 until NumSubspaces)
      .map(m => element_at(col(s"ptab$m"), col(s"code$m") + 1))
      .reduce(_ + _)
    val scored = enc.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        (approxIp / sqrt(col("pn2") * col("rn2"))).as("cos"))
    rankTopK(scored, 5).withColumnRenamed("cos", "approx_cos")
  }

  /** IVF-PQ (the FAISS IVFADC composition — Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011, §IV): the
    * coarse quantizer of [[simIvfAnn]] routes every vector (and probe)
    * to an inverted list, and the RESIDUAL x − c(x) — not the raw
    * vector — is PQ-encoded, the paper's key refinement (residuals have
    * far less energy than raw vectors, so the same code budget carries
    * more precision). ADC scoring reconstructs c + r̂: the probe-side
    * tables are the [[simPqAnn]] codeword dots plus one ⟨q, c⟩ term,
    * and the candidate norm is |c + r̂|² from a (cluster, code) lookup
    * — both cluster-dependent, all precomputed driver-side from the
    * fixed model artifacts (k·M·codes doubles, a broadcast-sized
    * table). At 100 TB the IVF cut bounds candidates touched and the M
    * one-byte codes bound bytes per candidate (the scan never reads
    * full candidate vectors). Cross-engine exactness: every derived
    * constant (⟨c_m, cb_mj⟩, |c_m + cb_mj|²) is computed with the dot
    * expression's exact fold (0.0 seed, ascending), which the oracle
    * recomputes from the same derived tables — identical IEEE
    * sequences, no literal embedding needed. The trained variants slot
    * in exactly as [[simIvfTrained]]/[[simPqTrained]] do. */
  def simIvfpqAnn(s: SparkSession, dir: String): DataFrame = {
    val (assigned, cents, codebook, _) = fixedIvfpqModel(s, dir)
    ivfpqSearch(assigned, cents, codebook)
  }

  /** The fixed-model IVFADC setup shared by [[simIvfpqAnn]] and
    * [[simIvfpqRerank]]: raw embeddings with norms, the first-k
    * centroid/codebook artifacts (ONE model-collect scan serves both
    * components) and the coalesced-non-nullable coarse assignment.
    * Returns (assigned, centroid vectors, codebook, raw-with-norms). */
  private def fixedIvfpqModel(s: SparkSession, dir: String): (DataFrame,
      IndexedSeq[IndexedSeq[Double]],
      IndexedSeq[IndexedSeq[IndexedSeq[Double]]], DataFrame) = {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("n2", norm2(col("emb")))
    // ONE model-collect scan serves both components (the centroid and
    // codebook artifacts both come from the first max(k, codes) vectors)
    val model = e.filter(col("vec_id") < math.max(NumCentroids, NumCodes))
      .select(col("vec_id"), col("emb"), col("n2"))
      .collect()
      .sortBy(_.getLong(0))
    val cents: IndexedSeq[(Long, IndexedSeq[Double], Double)] =
      model.take(NumCentroids).toIndexedSeq.map(r =>
        (r.getLong(0), r.getSeq[Double](1).toIndexedSeq, r.getDouble(2)))
    val codeVecs = model.take(NumCodes).map(_.getSeq[Double](1).toIndexedSeq)
    val codebook: IndexedSeq[IndexedSeq[IndexedSeq[Double]]] =
      (0 until NumSubspaces).map(m => (0 until NumCodes).map(j =>
        codeVecs(j).slice(m * SubDim, (m + 1) * SubDim)))
    val distStructs = cents.map { case (cid, c, cn2c) =>
      struct(
        (col("n2") - lit(2.0) * dot(col("emb"), typedLit(c)) + lit(cn2c)).as("d2"),
        lit(cid).as("cid"))
    }
    // coalesce: provably non-nullable, so the cluster===pc join cannot
    // infer an IsNotNull that re-inlines the argmin into the scan (the
    // simIvfAnn pattern)
    val assigned = e
      .withColumn("cluster",
        coalesce(array_min(array(distStructs: _*)).getField("cid"), lit(-1L)))
      .select(col("vec_id"), col("emb"), col("cluster"))
    (assigned, cents.map(_._2), codebook, e)
  }

  /** Shortlist width of [[simIvfpqRerank]]'s exact tier. */
  val RerankR = 20

  /** Two-tier ANN serving — the production FAISS/ScaNN deployment shape
    * (Jégou et al. §V evaluate exactly this refinement): tier 1 is the
    * IVFADC scan of [[simIvfpqAnn]] widened to a [[RerankR]]-deep
    * shortlist (same persisted encoded index — CacheManager serves the
    * ann, recall and rerank faces from ONE residual encode), tier 2
    * re-ranks ONLY the shortlist with the exact cosine over the raw
    * vectors (the [[simTopkBruteforce]] spelling). The shortlist is
    * bounded (R × #probes rows), so the candidate fetch is a broadcast
    * semi-prune of the raw scan and the exact tier touches R vectors
    * per probe, never the corpus — at 100 TB the full-precision reads
    * are R point-lookups per query, the two-tier contract. Output is
    * the final exact-cosine top-5 (rank ties to the lower vec_id). */
  /** Matryoshka tier-1 prefix width (of the 64 embedding dims). */
  val MrlDims = 16
  /** Matryoshka shortlist depth for the exact re-rank. */
  val MrlR = 20

  /** Matryoshka two-tier ANN (Kusupati et al. 2022, "Matryoshka
    * Representation Learning" — the truncation-based serving shape MRL
    * embeddings are trained for, deployed by production retrieval
    * stacks as adaptive retrieval): tier 1 scores EVERY vector with
    * only the first [[MrlDims]] dimensions — ¼ of the flops, and in
    * the production layout the prefix is a separately-stored column so
    * the scan reads ¼ of the bytes too — then tier 2 re-ranks the
    * [[MrlR]]-deep shortlist with the exact full-dimension cosine.
    * The same two-tier latency/recall contract as [[simIvfpqRerank]]
    * with truncation instead of quantization as the compression; the
    * full-precision reads are R point lookups per probe (a broadcast
    * semi-prune of the raw scan), never the corpus. Both tiers'
    * cosines replay bit-exactly (dot / sqrt(n2·n2), the established
    * spelling) and ties break on vec_id in both engines. */
  def simMatryoshka(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("n2", norm2(col("emb")))
      .withColumn("pre", slice(col("emb"), 1, MrlDims))
      .withColumn("pren2", norm2(col("pre")))
    val probes = e.filter(col("vec_id") < 5)
    val t1 = e.join(broadcast(probes.select(col("vec_id").as("probe_id"),
        col("pre").as("qpre"), col("pren2").as("qpn2"))),
        col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        cosineWithNorms(dot(col("qpre"), col("pre")),
          col("qpn2"), col("pren2")).as("cos"))
    val short = org.apache.spark.sql.graftexpr.TopKPerKey
      .perKey(t1, Seq("probe_id"), Seq(("cos", false), ("vec_id", true)), MrlR)
      .select(col("probe_id"), col("vec_id"))
    val cands = e.select(col("vec_id"), col("emb"), col("n2"))
      .join(broadcast(short), Seq("vec_id"))
    val scored = cands.join(broadcast(probes.select(col("vec_id").as("pid"),
        col("emb").as("qe"), col("n2").as("qn2"))),
        col("probe_id") === col("pid"))
      .select(col("probe_id"), col("vec_id"),
        cosineWithNorms(dot(col("qe"), col("emb")),
          col("qn2"), col("n2")).as("cos"))
    rankTopK(scored, 5)
  }

  def simIvfpqRerank(s: SparkSession, dir: String): DataFrame = {
    val (assigned, cents, codebook, e) = fixedIvfpqModel(s, dir)
    val short = ivfpqSearch(assigned, cents, codebook, RerankR)
      .select(col("probe_id"), col("vec_id"))
    val cands = e.join(broadcast(short), Seq("vec_id"))
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("pid"), col("emb").as("pe"), col("n2").as("pn2"))
    val scored = cands.join(broadcast(probes), col("probe_id") === col("pid"))
      .select(col("probe_id"), col("vec_id"),
        cosineWithNorms(dot(col("pe"), col("emb")), col("pn2"), col("n2")).as("cos"))
    rankTopK(scored, 5)
  }

  /** Driver-side dot in the dot expression's exact order (0.0 seed,
    * ascending index) so every derived model constant replays
    * bit-identically when the oracle recomputes it with dotSql. */
  private def fdot(a: Seq[Double], b: Seq[Double]): Double =
    a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))

  /** Coarse-assignment column over an `emb` column against 0-indexed
    * model centroids (cn2 is the Scala fold, the per-row |x|² constant
    * dropped — it cannot change the argmin; ties to the lower cluster
    * id). Coalesced provably non-nullable: no IsNotNull inference can
    * re-inline the argmin into the scan. Shared by [[simIvfpqTrained]]
    * and the streaming scorer's probe routing. */
  private[graft] def trainedAssignCol(cents: IndexedSeq[IndexedSeq[Double]]): Column = {
    val distStructs = cents.zipWithIndex.map { case (c, i) =>
      struct(
        (lit(c.map(x => x * x).sum) - lit(2.0) * dot(col("emb"), typedLit(c))).as("d2"),
        lit(i.toLong).as("cid"))
    }
    coalesce(array_min(array(distStructs: _*)).getField("cid"), lit(-1L))
  }

  /** The IVFADC residual-encode/ADC-score/top-k plan shared by the
    * fixed-model [[simIvfpqAnn]] and the k-means-trained
    * [[simIvfpqTrained]] — the [[pqSearch]] factoring applied to the
    * composed index: only the centroid/codebook VALUES differ, and every
    * derived constant (cbn2, the ⟨c_m, cb_mj⟩ residual correction, the
    * |c_m + cb_mj|² reconstructed norms) is folded driver-side by
    * [[fdot]] from whichever model is passed in. `assigned` must carry
    * (vec_id, emb, cluster) with cluster a NON-NULLABLE 0-based index
    * into `cents` (both callers coalesce their argmin — the scan-filter
    * pushdown-duplication cure). */
  /** Residual-PQ encode of an `(vec_id, emb, cluster)` relation against
    * a model: emits `(vec_id, cluster, code0..codeM-1, rn2)` — the
    * bounded-bytes serving relation (M one-byte codes + the
    * reconstructed norm per candidate; the raw vectors never leave this
    * projection). Shared by the batch search and the streaming scorer's
    * static index side. */
  private[graft] def encodeIvfpq(assigned: DataFrame,
      cents: IndexedSeq[IndexedSeq[Double]],
      codebook: IndexedSeq[IndexedSeq[IndexedSeq[Double]]]): DataFrame = {
    val cbn2 = codebook.map(_.map(c => fdot(c, c)))
    def subC(c: IndexedSeq[Double], m: Int) = c.slice(m * SubDim, (m + 1) * SubDim)
    // ⟨c_k,m , cb_m,j⟩ — the residual-dot correction per (cluster, sub, code)
    val ccdot = cents.map { c =>
      (0 until NumSubspaces).map(m => (0 until NumCodes).map(j =>
        fdot(subC(c, m), codebook(m)(j))))
    }
    // |c_k,m + cb_m,j|² — the reconstructed-norm table (subspaces are
    // disjoint coordinates, so the full |c + r̂|² is their plain sum)
    val recn2 = cents.map { c =>
      (0 until NumSubspaces).map { m =>
        val cm = subC(c, m)
        (0 until NumCodes).map { j =>
          val cb = codebook(m)(j)
          (0 until SubDim).foldLeft(0.0) { (acc, i) =>
            val v = cm(i) + cb(i); acc + v * v
          }
        }
      }
    }
    val cl = col("cluster").cast("int")
    def subv(c: Column, m: Int): Column = slice(c, m * SubDim + 1, SubDim)
    // residual encode: argmin_j (|cb|² − 2(⟨x_m, cb⟩ − ⟨c_m, cb⟩)) —
    // the per-x |r_m|² constant cannot change the argmin; ties to the
    // lower code id
    val codeCols = (0 until NumSubspaces).map { m =>
      array_min(array((0 until NumCodes).map { j =>
        val ccPerCluster = cents.indices.map(k => ccdot(k)(m)(j))
        struct(
          (lit(cbn2(m)(j)) - lit(2.0) *
            (dot(subv(col("emb"), m), typedLit(codebook(m)(j))) -
              element_at(typedLit(ccPerCluster), cl + 1))).as("d2"),
          lit(j).as("cid"))
      }: _*)).getField("cid").as(s"code$m")
    }
    val enc0 = assigned.select(col("vec_id") +: col("cluster") +: codeCols: _*)
    // |c + r̂|² via the (cluster, code) lookup, summed across subspaces
    val rn2 = (0 until NumSubspaces).map { m =>
      val flat = cents.indices.flatMap(k => (0 until NumCodes).map(j => recn2(k)(m)(j)))
      element_at(typedLit(flat), cl * NumCodes + col(s"code$m").cast("int") + 1)
    }.reduce(_ + _)
    enc0.withColumn("rn2", rn2)
  }

  /** Probe-side ADC columns over a relation carrying `(emb, cluster)`:
    * pn2, the ⟨q, c_cluster⟩ own-list centroid term, and the
    * per-subspace codeword-dot lookup tables — shared by the batch
    * probe projection and the streaming scorer. */
  private[graft] def probeAdcCols(cents: IndexedSeq[IndexedSeq[Double]],
      codebook: IndexedSeq[IndexedSeq[IndexedSeq[Double]]]): Seq[Column] = {
    val cl = col("cluster").cast("int")
    def subv(c: Column, m: Int): Column = slice(c, m * SubDim + 1, SubDim)
    Seq(
      norm2(col("emb")).as("pn2"),
      // ⟨q, c_pc⟩ — the probe's own-list centroid term of the ADC score
      element_at(array(cents.map(c => dot(col("emb"), typedLit(c))): _*),
        cl + 1).as("qc")) ++
      (0 until NumSubspaces).map { m =>
        array((0 until NumCodes).map(j =>
          dot(subv(col("emb"), m), typedLit(codebook(m)(j)))): _*).as(s"ptab$m")
      }
  }

  /** The ADC cosine over a row carrying the probe tables AND the
    * candidate codes: ⟨q, c + r̂⟩ / sqrt(pn2 · |c + r̂|²) with
    * ⟨q, c + r̂⟩ = qc + Σ_m ptab_m[code_m]. */
  private[graft] def adcScore: Column = {
    val approxIp = (col("qc") +:
      (0 until NumSubspaces).map(m =>
        element_at(col(s"ptab$m"), col(s"code$m") + 1))).reduce(_ + _)
    approxIp / sqrt(col("pn2") * col("rn2"))
  }

  /** The IVFADC search over an assigned relation: encode the corpus,
    * broadcast the <= 5 probes with their ADC tables, score inside the
    * probe's own list only, bounded-heap top-5. */
  private[graft] def ivfpqSearch(assigned: DataFrame,
      cents: IndexedSeq[IndexedSeq[Double]],
      codebook: IndexedSeq[IndexedSeq[IndexedSeq[Double]]],
      k: Int = 5): DataFrame = {
    // persisted index build (the pqSearch posture): the residual encode
    // is the expensive pass; the skinny (vec_id, cluster, codes, rn2)
    // cache serves the ann AND recall faces of the same model
    val enc = encodeIvfpq(assigned, cents, codebook)
      .cachedPersist()
    val probes = assigned.filter(col("vec_id") < 5)
      .select(Seq(col("vec_id").as("probe_id"), col("cluster").as("pc")) ++
        probeAdcCols(cents, codebook): _*)
    val scored = enc.join(broadcast(probes),
        col("cluster") === col("pc") && col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), adcScore.as("cos"))
    rankTopK(scored, k).withColumnRenamed("cos", "approx_cos")
  }

  /** Recall@5 of the composed IVF-PQ index — it stacks BOTH error
    * sources (list routing misses + quantization error), so its recall
    * sits at or below each component's; the same shared harness measures
    * it against the exact ground truth. */
  def simIvfpqRecall(s: SparkSession, dir: String): DataFrame =
    annRecall(simIvfpqAnn(s, dir), s, dir)

  /** [[simIvfpqAnn]] with a fully TRAINED model — the FAISS IVFADC
    * training recipe (Jégou et al., TPAMI 2011, §IV): [[trainCentroids]]
    * fits the coarse quantizer (the identical fit AND memo entry
    * [[simIvfTrained]] uses), every vector's RESIDUAL x − c(x) is formed
    * against its trained centroid, and each subspace's [[NumCodes]]
    * codewords come from k-means ON THE RESIDUAL SLICES — residuals
    * carry far less energy than raw vectors, so the same code budget
    * carries more precision (the paper's point). The search is
    * byte-for-byte [[ivfpqSearch]]: only the model values differ,
    * completing the fixed/trained symmetry the IVF and PQ families
    * already have. The oracle ([[trainedIvfpqSql]]) replays only the
    * SEARCH, with every trained double embedded round-trip-exact; the
    * engine-specific training summation order never crosses engines. */
  def simIvfpqTrained(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val cents = coarseQuantizer(s, dir, e)
    val assigned = e
      .withColumn("cluster", trainedAssignCol(cents))
      .select(col("vec_id"), col("emb"), col("cluster"))
    // the residual relation the codebooks train on: x − c(x) against the
    // trained centroid of the row's own cluster, plain double subtraction
    val centArr = array(cents.map(c => typedLit(c)): _*)
    val res = assigned.withColumn("remb",
      zip_with(col("emb"), element_at(centArr, col("cluster").cast("int") + 1),
        (x, c) => x - c))
    // the residual codebooks, memoized with the quantizer they were
    // trained against so the oracle embeds one consistent pair
    val (_, codebook) = Memo.artifact(s, dir, s"sim.ivfpq/$NumCodes/$PqIters", "embeddings") {
      (cents, (0 until NumSubspaces).map(m =>
        trainCentroids(
          res.select(col("vec_id"),
            slice(col("remb"), m * SubDim + 1, SubDim).as("emb")),
          NumCodes, PqIters)).toIndexedSeq)
    }
    ivfpqSearch(assigned, cents, codebook)
  }

  /** Recall@5 of the TRAINED IVF-PQ index through the shared compare
    * harness — measured against the exact brute-force ground truth like
    * every other index family's recall face. */
  def simIvfpqTrainedRecall(s: SparkSession, dir: String): DataFrame =
    annRecall(simIvfpqTrained(s, dir), s, dir)

  /** PQ iterations for [[simPqTrained]] — few on purpose: the fit must
    * be deterministic and cheap, and two Lloyd's rounds already separate
    * the sub-vector space (the spec asserts determinism; convergence
    * quality is not the gate, cross-engine search equality is). */
  val PqIters = 2

  /** [[simPqAnn]] with TRAINED codebooks: each subspace's [[NumCodes]]
    * codewords come from [[trainCentroids]] run on that subspace's
    * sub-vectors (k-means on the slices — the real PQ training loop)
    * instead of slices of the first [[NumCodes]] data vectors. The
    * encode/ADC/top-k plan is IDENTICAL ([[pqSearch]]); only the
    * literals differ, exactly the [[simIvfTrained]] pattern, and the
    * oracle ([[trainedPqSql]]) embeds the trained codewords as
    * round-trip-exact literals after the query has trained. */
  def simPqTrained(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val codebook = Memo.artifact(s, dir, s"sim.pq/$NumCodes/$PqIters", "embeddings") {
      (0 until NumSubspaces).map { m =>
        trainCentroids(e.select(col("vec_id"),
          slice(col("emb"), m * SubDim + 1, SubDim).as("emb")), NumCodes, PqIters)
      }
    }
    pqSearch(e, codebook)
  }

  /** Per-label embedding centroids (class prototypes — the artifact a
    * nearest-class-mean filter or prototype-based dedup consumes):
    * exploded to (label, dim) cells, each value quantized to 1e-6 by
    * `floor(v * 1e6)` — multiply and floor are IEEE-exact on identical
    * doubles in BOTH engines (a double->DECIMAL cast is NOT: the two
    * engines disagree by 1 ulp on some values) — then summed as exact
    * integers, so the mean is order-independent and survives Spark's
    * unordered partial aggregation. Shuffle carries only (label, dim)
    * integer partials: |labels| * Dim cells regardless of corpus size. */
  def embLabelCentroids(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("d", "v")))
      .groupBy(col("label"), col("d").cast("bigint").as("d"))
      .agg(count(lit(1)).as("n_vecs"),
        (sum(floor(col("v").cast("double") * lit(1e6)).cast("bigint"))
          .cast("double") /
          count(lit(1)).cast("double") / lit(1e6)).as("centroid"))
      .transform(Present.fused("label", "d"))

  /** Nearest-class-mean assignment (label-noise detection): every
    * vector is assigned to its closest [[embLabelCentroids]] prototype
    * and the (label, assigned) confusion counts come back — off-diagonal
    * mass is the label-noise signal a curation pass inspects. The
    * centroid matrix is a model artifact (|labels| x Dim doubles,
    * collected like the IVF quantizer); assignment is a narrow argmin
    * over centroid literals, so the only shuffle is the tiny confusion
    * aggregate. Cross-engine exact because the centroids themselves are
    * hash-exact (quantized integer sums) and the d2 fold order mirrors
    * the oracle's. */
  def embLabelAssign(s: SparkSession, dir: String): DataFrame = {
    val cents: Seq[(Int, IndexedSeq[Double])] = embLabelCentroids(s, dir)
      .select("label", "d", "centroid").collect()
      .groupBy(_.getInt(0)).toSeq
      .map { case (l, rows) =>
        l -> rows.sortBy(_.getLong(1)).map(_.getDouble(2)).toIndexedSeq }
      .sortBy(_._1)
    // |c|^2 with the sequential fold order of the dot expressions
    val distStructs = cents.map { case (l, c) =>
      struct(
        (lit(c.foldLeft(0.0)((a, x) => a + x * x)) -
          lit(2.0) * dot(col("emb"), typedLit(c))).as("d2"),
        lit(l).as("lbl"))
    }
    Tables.load(s, dir, "embeddings")
      .select(col("label"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("assigned", array_min(array(distStructs: _*)).getField("lbl"))
      .groupBy("label", "assigned")
      .agg(count(lit(1)).as("n_vecs"))
      .transform(Present.fused("label", "assigned"))
  }

  /** The trained IVF coarse quantizer: k-means fits once per (corpus,
    * k, iters) and the model is reused — the production IVF lifecycle
    * (train offline, serve many queries; [[saveCentroids]]/
    * [[loadCentroids]] is the durable form of the same artifact). Safe
    * because the fit is deterministic (spec-asserted): the memoized value
    * is bit-identical to retraining. Plain doubles, no Spark state, so
    * one entry serves every session; the [[Memo]] fingerprint retrains
    * after data is regenerated in place. [[simIvfTrained]] and
    * [[simIvfpqTrained]] share the one kind on purpose: one trained
    * quantizer serves the whole IVF family. Input: `(vec_id, emb)`. */
  private def coarseQuantizer(s: SparkSession, dir: String,
      e: DataFrame): IndexedSeq[IndexedSeq[Double]] =
    Memo.artifact(s, dir, s"sim.centroids/$NumCentroids/3", "embeddings")(
      trainCentroids(e.select(col("vec_id"), col("emb")), NumCentroids, iters = 3))

  /** Forwarder to [[Memo.setOracleDir]], kept for the benchmark package,
    * which calls it by this name. */
  def setOracleDir(dir: String): Unit = Memo.setOracleDir(dir)

  def simIvfTrained(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("n2", norm2(col("emb")))
    val cents = coarseQuantizer(s, dir, e)
    // d2 up to the per-row |x|^2 constant: |c|^2 - 2<x,c>
    val distStructs = cents.zipWithIndex.map { case (c, i) =>
      struct(
        (lit(c.map(x => x * x).sum) - lit(2.0) * dot(col("emb"), typedLit(c))).as("d2"),
        lit(i).as("cid"))
    }
    // coalesce: provably non-nullable — see simIvfAnn (stops the join's
    // inferred IsNotNull from re-inlining the argmin into the scan)
    val assigned = e.withColumn("cluster",
      coalesce(array_min(array(distStructs: _*)).getField("cid"), lit(-1L)))
    val probes = assigned.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("emb").as("pe"),
        col("n2").as("pn2"), col("cluster").as("pc"))
    val scored = assigned.join(broadcast(probes),
        col("cluster") === col("pc") && col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        cosineWithNorms(dot(col("pe"), col("emb")), col("pn2"), col("n2")).as("cos"))
    rankTopK(scored, 5)
  }

  private def planeSql(p: Int): String = planes(p).mkString("[", ", ", "]")
  private[operators] def bucketSql(emb: String): String =
    (0 until NumPlanes).map { p =>
      s"(CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len($emb) + 1), i -> CAST($emb[i] AS DOUBLE) * CAST((${planeSql(p)})[i] AS DOUBLE))), (x, y) -> x + y) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** `def`, not `val`: the sim_*_trained oracles exist only after their
    * queries have trained (Verify runs every query BEFORE dumping
    * oracle_sql.json, so by then the [[Memo]] registry holds the fits for
    * the pinned dir). The oracles replay only the
    * SEARCH — the trained values are embedded as round-trip-exact double
    * literals, exactly as [[simIvfAnn]]/[[simPqAnn]] embed their fixed
    * ones — so the engine-specific training summation order never
    * crosses engines. */
  def oracles: Map[String, String] = {
    type Vecs = IndexedSeq[IndexedSeq[Double]]
    staticOracles ++
      Memo.oracle[Vecs](s"sim.centroids/$NumCentroids/3")
        .map(c => Map("sim_ivf_trained" -> trainedIvfSql(c)))
        .getOrElse(Map.empty) ++
      Memo.oracle[IndexedSeq[Vecs]](s"sim.pq/$NumCodes/$PqIters")
        .map(c => Map("sim_pq_trained" -> trainedPqSql(c)))
        .getOrElse(Map.empty) ++
      Memo.oracle[(Vecs, IndexedSeq[Vecs])](s"sim.ivfpq/$NumCodes/$PqIters")
        .map { case (c, cb) =>
          val sql = trainedIvfpqSql(c, cb)
          Map("sim_ivfpq_trained" -> sql,
            "sim_ivfpq_trained_recall" -> recallOracleSql(sql))
        }
        .getOrElse(Map.empty) ++
      Memo.oracle[IndexedSeq[Double]]("sim.emb_pca")
        .map { eig =>
          val rows = eig.zipWithIndex
            .map { case (v, k) => s"(CAST($k AS BIGINT), ${fmtD(v)})" }
            .mkString(", ")
          Map("emb_pca_var" ->
            s"SELECT k, lam FROM (VALUES $rows) AS t(k, lam) ORDER BY k")
        }
        .getOrElse(Map.empty) ++
      Memo.oracle[IndexedSeq[(IndexedSeq[Double], Double, Double)]]("sim.emb_whiten")
        .map { params =>
          // the identical quantized fold × literal eigenvector, then
          // the identical affine map (fold * a) + b
          val ws = params.zipWithIndex.map { case ((vk, a, b), k) =>
            val lst = vk.map(fmtD).mkString("[", ", ", "]")
            s"""(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               |    list_transform(range(1, ${vk.length + 1}),
               |      i -> CAST(q[CAST(i AS INT)] AS DOUBLE) * ($lst)[CAST(i AS INT)])),
               |    (x, y) -> x + y) * ${fmtD(a)}) + ${fmtD(b)} AS w$k""".stripMargin
          }.mkString(",\n  ")
          Map("emb_whiten" ->
            s"""WITH qq AS (
               |  SELECT vec_id, list_transform(embedding,
               |    v -> CAST(floor(CAST(v AS DOUBLE) * $EmbGramScale) AS BIGINT)) AS q
               |  FROM embeddings)
               |SELECT vec_id,
               |  $ws
               |FROM qq ORDER BY vec_id""".stripMargin)
        }
        .getOrElse(Map.empty) ++
      Memo.oracle[Vecs]("sim.emb_pca_vecs")
        .map { top =>
          // the identical ascending-dim left fold over the identical
          // quantized integers × round-trip-exact literal weights
          val pcs = top.zipWithIndex.map { case (vk, k) =>
            val lst = vk.map(fmtD).mkString("[", ", ", "]")
            s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
               |    list_transform(range(1, ${vk.length + 1}),
               |      i -> CAST(q[CAST(i AS INT)] AS DOUBLE) * ($lst)[CAST(i AS INT)])),
               |    (x, y) -> x + y) AS pc$k""".stripMargin
          }.mkString(",\n  ")
          Map("emb_pca_project" ->
            s"""WITH qq AS (
               |  SELECT vec_id, list_transform(embedding,
               |    v -> CAST(floor(CAST(v AS DOUBLE) * $EmbGramScale) AS BIGINT)) AS q
               |  FROM embeddings)
               |SELECT vec_id,
               |  $pcs
               |FROM qq ORDER BY vec_id""".stripMargin)
        }
        .getOrElse(Map.empty)
  }

  /** `CAST('<shortest-roundtrip-repr>' AS DOUBLE)` — string->double
    * parsing is correctly-rounded in DuckDB, so the literal comes back
    * bit-identical to the Spark-side double. */
  private def fmtD(d: Double): String =
    s"CAST('${java.lang.Double.toString(d)}' AS DOUBLE)"

  /** [[ivfOracle]]'s search with the TRAINED quantizer as literals;
    * d2 mirrors [[simIvfTrained]] exactly: |c|^2 (the Scala-side fold,
    * embedded) minus 2<x,c>, no |x|^2 term. */
  private def trainedIvfSql(cents: IndexedSeq[IndexedSeq[Double]]): String = {
    val rows = cents.zipWithIndex.map { case (c, i) =>
      val lst = c.map(fmtD).mkString("[", ", ", "]")
      s"($i, $lst, ${fmtD(c.map(x => x * x).sum)})"
    }.mkString(",\n    ")
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    ${Dedup.dotSql("embedding", "embedding")} AS n2 FROM embeddings),
       |c AS (SELECT * FROM (VALUES
       |    $rows) AS t(cid, cemb, cn2)),
       |d AS (
       |  SELECT e.vec_id, e.embedding, e.n2, c.cid,
       |    c.cn2 - 2.0 * ${Dedup.dotSql("e.embedding", "c.cemb")} AS d2
       |  FROM e CROSS JOIN c),
       |a AS (
       |  SELECT vec_id, embedding, n2, cid AS cluster FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |    FROM d) t WHERE rn = 1),
       |p AS (
       |  SELECT vec_id AS probe_id, embedding AS pe, n2 AS pn2, cluster AS pc
       |  FROM a WHERE vec_id < 5),
       |sc AS (
       |  SELECT probe_id, a.vec_id,
       |    ${Dedup.dotSql("pe", "a.embedding")} / sqrt(pn2 * a.n2) AS cos
       |  FROM a JOIN p ON a.cluster = p.pc AND a.vec_id != p.probe_id),
       |r AS (
       |  SELECT probe_id, vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rk
       |  FROM sc)
       |SELECT probe_id, vec_id, cos, rk FROM r WHERE rk <= 5
       |ORDER BY probe_id, rk""".stripMargin
  }

  private lazy val staticOracles: Map[String, String] = Map(
    // the quantized-integer Gram replayed relationally: CAST to DOUBLE
    // BEFORE the scale multiply (float32 parquet values round at float
    // precision otherwise), floor to BIGINT, exact integer sums
    "emb_gram" ->
      s"""WITH q AS (
         |  SELECT vec_id, list_transform(embedding,
         |    v -> CAST(floor(CAST(v AS DOUBLE) * $EmbGramScale) AS BIGINT)) AS q
         |  FROM embeddings),
         |e AS (SELECT vec_id, generate_subscripts(q, 1) - 1 AS d, unnest(q) AS qv
         |      FROM q)
         |SELECT CAST(a.d AS BIGINT) AS i, CAST(b.d AS BIGINT) AS j,
         |  CAST(SUM(a.qv * b.qv) AS BIGINT) AS g
         |FROM e a JOIN e b USING (vec_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the widened Gram replayed through DuckDB's HUGEINT sums, gated
    // as lossless decimal strings (see embGramWide)
    "emb_gram_wide" ->
      s"""WITH q AS (
         |  SELECT vec_id, list_transform(embedding,
         |    v -> CAST(floor(CAST(v AS DOUBLE) * $EmbGramScale) AS BIGINT)) AS q
         |  FROM embeddings),
         |e AS (SELECT vec_id, generate_subscripts(q, 1) - 1 AS d, unnest(q) AS qv
         |      FROM q)
         |SELECT CAST(a.d AS BIGINT) AS i, CAST(b.d AS BIGINT) AS j,
         |  CAST(CAST(SUM(a.qv * b.qv) AS DECIMAL(38,0)) AS VARCHAR) AS g
         |FROM e a JOIN e b USING (vec_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "sim_pq_ann" -> pqOracle,
    "emb_label_assign" -> assignOracle,
    // parallel unnests zip positionally in DuckDB; floor(v * 1e6) is
    // IEEE-exact on the identical doubles, so the integer sums match
    // bit-for-bit (a double->DECIMAL cast would not — 1-ulp disagreement)
    "emb_label_centroids" ->
      """WITH x AS (
        |  SELECT label, unnest(range(len(embedding))) AS d,
        |    unnest(list_transform(embedding, v -> CAST(v AS DOUBLE))) AS v
        |  FROM embeddings)
        |SELECT label, d, COUNT(*) AS n_vecs,
        |  CAST(SUM(CAST(floor(v * 1e6) AS BIGINT)) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) / 1e6 AS centroid
        |FROM x GROUP BY label, d ORDER BY label, d""".stripMargin,
    "sim_topk_bruteforce" ->
      s"""WITH p AS (
         |  SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id < 5),
         |sc AS (
         |  SELECT probe_id, e.vec_id,
         |    ${Dedup.cosSql("pe", "e.embedding")} AS cos
         |  FROM embeddings e CROSS JOIN p WHERE e.vec_id != probe_id),
         |r AS (
         |  SELECT probe_id, vec_id, cos,
         |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rk
         |  FROM sc)
         |SELECT probe_id, vec_id, cos, rk FROM r WHERE rk <= 10
         |ORDER BY probe_id, rk""".stripMargin,
    // sufficient-statistics separability: 1e-6 floor-quantized BIGINT
    // sums (integer-exact), then the two quadratic folds left-folded in
    // dimension-ascending order — identical double bits cross-engine
    "emb_class_sep" ->
      """WITH x AS (
        |  SELECT label, vec_id, unnest(range(len(embedding))) AS d,
        |    unnest(list_transform(embedding,
        |      v -> CAST(floor(CAST(v AS DOUBLE) * 1e6) AS BIGINT))) AS qv
        |  FROM embeddings),
        |pv AS (SELECT label, vec_id, SUM(qv * qv) AS qn2 FROM x GROUP BY 1, 2),
        |lq AS (SELECT label, COUNT(*) AS n_vecs,
        |         CAST(SUM(qn2) AS BIGINT) AS ql FROM pv GROUP BY 1),
        |sl AS (SELECT label, d, CAST(SUM(qv) AS BIGINT) AS sld FROM x GROUP BY 1, 2),
        |sg AS (SELECT d, CAST(SUM(sld) AS BIGINT) AS sgd FROM sl GROUP BY 1),
        |lv AS (SELECT label,
        |         list(CAST(sld AS DOUBLE) ORDER BY d) AS ls,
        |         list(CAST(sgd AS DOUBLE) ORDER BY d) AS gs
        |       FROM sl JOIN sg USING (d) GROUP BY label),
        |f AS (SELECT label,
        |        list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |          list_transform(ls, v -> v * v)), (x, y) -> x + y) AS ssq,
        |        list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |          list_transform(range(1, len(ls) + 1),
        |            i -> ls[i] * (gs[i] - ls[i]))), (x, y) -> x + y) AS cdot
        |      FROM lv),
        |t AS (SELECT SUM(n_vecs) AS n_g FROM lq)
        |SELECT lq.label, lq.n_vecs,
        |  CASE WHEN lq.n_vecs > 1 THEN (f.ssq - CAST(lq.ql AS DOUBLE))
        |    / (CAST(lq.n_vecs AS DOUBLE) * CAST(lq.n_vecs - 1 AS DOUBLE))
        |    / 1e12 END AS within_dot_mean,
        |  CASE WHEN t.n_g > lq.n_vecs THEN f.cdot
        |    / (CAST(lq.n_vecs AS DOUBLE) * CAST(t.n_g - lq.n_vecs AS DOUBLE))
        |    / 1e12 END AS cross_dot_mean
        |FROM lq JOIN f USING (label) CROSS JOIN t
        |ORDER BY label""".stripMargin,
    // same bucket replay as sim_lsh_ann; counts exact, max_cos order-free
    "sim_range_search" ->
      s"""WITH eb AS (
         |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket
         |  FROM embeddings),
         |p AS (SELECT vec_id AS probe_id, embedding AS pe, bucket AS pb
         |      FROM eb WHERE vec_id < 5),
         |sc AS (
         |  SELECT probe_id, ${Dedup.cosSql("pe", "eb.embedding")} AS cos
         |  FROM eb JOIN p ON eb.bucket = p.pb AND eb.vec_id != p.probe_id)
         |SELECT probe_id, COUNT(*) AS n_cand,
         |  CAST(SUM(CASE WHEN cos >= $RangeTau THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_in_range,
         |  MAX(cos) AS max_cos
         |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,
    // exact brute-force radius truth vs the bucket path's in-range count
    "sim_range_recall" ->
      s"""WITH eb AS (
         |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket
         |  FROM embeddings),
         |p AS (SELECT vec_id AS probe_id, embedding AS pe, bucket AS pb
         |      FROM eb WHERE vec_id < 5),
         |allsc AS (
         |  SELECT probe_id, ${Dedup.cosSql("pe", "e.embedding")} AS cos
         |  FROM embeddings e CROSS JOIN p WHERE e.vec_id != probe_id),
         |truth AS (
         |  SELECT probe_id,
         |    CAST(SUM(CASE WHEN cos >= $RangeTau THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_true
         |  FROM allsc GROUP BY 1),
         |bsc AS (
         |  SELECT probe_id, ${Dedup.cosSql("pe", "eb.embedding")} AS cos
         |  FROM eb JOIN p ON eb.bucket = p.pb AND eb.vec_id != p.probe_id),
         |found AS (
         |  SELECT probe_id,
         |    CAST(SUM(CASE WHEN cos >= $RangeTau THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_found
         |  FROM bsc GROUP BY 1)
         |SELECT t.probe_id, t.n_true, COALESCE(f.n_found, 0) AS n_found,
         |  CASE WHEN t.n_true > 0
         |    THEN CAST(COALESCE(f.n_found, 0) AS DOUBLE) / CAST(t.n_true AS DOUBLE)
         |  END AS recall
         |FROM truth t LEFT JOIN found f USING (probe_id)
         |ORDER BY 1""".stripMargin,
    // sign signatures + exact integer Hamming folds; bucket = h // 8
    "sim_sign_hamming" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding,
        |    v -> CASE WHEN CAST(v AS DOUBLE) > 0.0 THEN 1 ELSE 0 END) AS sig
        |  FROM embeddings),
        |p AS (SELECT vec_id AS probe_id, sig AS psig FROM e WHERE vec_id < 5),
        |d AS (
        |  SELECT probe_id,
        |    CAST(list_sum(list_transform(range(1, len(sig) + 1),
        |      i -> abs(sig[i] - psig[i]))) AS BIGINT) AS h
        |  FROM e CROSS JOIN p WHERE e.vec_id != probe_id)
        |SELECT probe_id, h // 8 AS h_bucket, COUNT(*) AS n_vecs,
        |  MIN(h) AS min_h, MAX(h) AS max_h
        |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // scale/round/accounting replayed element-for-element; integer
    // checksums order-free, err_max an order-free max
    "emb_quant_int8" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb
        |  FROM embeddings),
        |a AS (
        |  SELECT vec_id, emb, list_max(list_transform(emb, v -> abs(v))) AS amax
        |  FROM e),
        |s AS (
        |  SELECT vec_id, emb, amax, 127.0 / amax AS scale FROM a WHERE amax > 0.0),
        |q AS (
        |  SELECT vec_id, amax, scale, emb,
        |    list_transform(emb, v -> CAST(floor(v * scale + 0.5) AS BIGINT)) AS q
        |  FROM s)
        |SELECT vec_id, amax,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), q),
        |    (x, y) -> x + y) AS BIGINT) AS sum_q,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(q, x -> abs(x))), (x, y) -> x + y) AS BIGINT) AS sum_abs_q,
        |  CAST(len(list_filter(q, x -> x != 0)) AS BIGINT) AS nnz,
        |  list_max(list_transform(range(1, len(q) + 1),
        |    i -> abs(emb[i] - CAST(q[i] AS DOUBLE) / scale))) AS err_max
        |FROM q ORDER BY vec_id""".stripMargin,
    // recall@5: LSH candidates vs the exact top-5 — id sets only, so no
    // double crosses engines; n_hits/5.0 is exact
    "sim_ann_recall" ->
      s"""WITH p AS (
         |  SELECT vec_id AS probe_id, embedding AS pe,
         |    ${bucketSql("embedding")} AS pb
         |  FROM embeddings WHERE vec_id < 5),
         |sc AS (
         |  SELECT probe_id, e.vec_id,
         |    ${Dedup.cosSql("pe", "e.embedding")} AS cos
         |  FROM embeddings e CROSS JOIN p WHERE e.vec_id != probe_id),
         |bf AS (
         |  SELECT probe_id, vec_id FROM (
         |    SELECT probe_id, vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rk
         |    FROM sc) t WHERE rk <= 5),
         |eb AS (
         |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings),
         |asc_ AS (
         |  SELECT probe_id, eb.vec_id,
         |    ${Dedup.cosSql("pe", "eb.embedding")} AS cos
         |  FROM eb JOIN p ON eb.bucket = p.pb AND eb.vec_id != p.probe_id),
         |ann AS (
         |  SELECT probe_id, vec_id FROM (
         |    SELECT probe_id, vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rk
         |    FROM asc_) t WHERE rk <= 5)
         |SELECT bf.probe_id, COUNT(ann.vec_id) AS n_hits,
         |  CAST(COUNT(ann.vec_id) AS DOUBLE) / 5.0 AS recall
         |FROM bf LEFT JOIN ann
         |  ON ann.probe_id = bf.probe_id AND ann.vec_id = bf.vec_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "sim_ivf_ann" -> ivfOracle,
    "sim_ivf_recall" -> recallOracleSql(ivfOracle),
    "sim_pq_recall" -> recallOracleSql(pqOracle),
    "sim_ivfpq_ann" -> ivfpqOracle,
    "sim_ivfpq_rerank" -> ivfpqRerankOracle,
    // both tiers replayed relationally: prefix-16 cosine shortlist
    // (same dot/sqrt spelling, float->double casts inside the fold),
    // exact full-dim re-rank, vec_id tie-breaks at both tiers
    "sim_matryoshka" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding, embedding[1:$MrlDims] AS pre
         |  FROM embeddings),
         |p AS (SELECT vec_id AS probe_id, pre AS qpre, embedding AS qe
         |      FROM e WHERE vec_id < 5),
         |t1 AS (
         |  SELECT probe_id, e.vec_id, ${Dedup.cosSql("qpre", "e.pre")} AS cos
         |  FROM e CROSS JOIN p WHERE e.vec_id != probe_id),
         |s1 AS (
         |  SELECT probe_id, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY probe_id
         |                       ORDER BY cos DESC, vec_id) AS rk
         |  FROM t1),
         |short AS (SELECT probe_id, vec_id FROM s1 WHERE rk <= $MrlR),
         |sc AS (
         |  SELECT short.probe_id, e.vec_id,
         |    ${Dedup.cosSql("p2.qe", "e.embedding")} AS cos
         |  FROM short JOIN e ON e.vec_id = short.vec_id
         |  JOIN p p2 ON p2.probe_id = short.probe_id),
         |r AS (
         |  SELECT probe_id, vec_id, cos,
         |    ROW_NUMBER() OVER (PARTITION BY probe_id
         |                       ORDER BY cos DESC, vec_id) AS rk
         |  FROM sc)
         |SELECT probe_id, vec_id, cos, rk FROM r WHERE rk <= 5
         |ORDER BY probe_id, rk""".stripMargin,
    "sim_ivfpq_recall" -> recallOracleSql(ivfpqOracle),
    "sim_lsh_ann" ->
      s"""WITH b AS (
         |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings),
         |p AS (
         |  SELECT vec_id AS probe_id, embedding AS pe, bucket AS pb FROM b WHERE vec_id < 5),
         |sc AS (
         |  SELECT probe_id, b.vec_id,
         |    ${Dedup.cosSql("pe", "b.embedding")} AS cos
         |  FROM b JOIN p ON b.bucket = p.pb AND b.vec_id != p.probe_id),
         |r AS (
         |  SELECT probe_id, vec_id, cos,
         |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rk
         |  FROM sc)
         |SELECT probe_id, vec_id, cos, rk FROM r WHERE rk <= 5
         |ORDER BY probe_id, rk""".stripMargin,
    "sim_knn_join" ->
      s"""WITH b AS (
         |  SELECT vec_id, label, embedding,
         |    ${bucketSql("embedding")} AS bucket
         |  FROM embeddings),
         |pr AS (
         |  SELECT vec_id, label, embedding,
         |    unnest(list_transform([${Dedup.probeMasks(Dedup.EmbedProbeDepth).mkString(", ")}],
         |      m -> xor(bucket, CAST(m AS BIGINT)))) AS probe
         |  FROM b),
         |sc AS (
         |  SELECT a.vec_id AS probe_id, b.vec_id AS vec_id,
         |    ${Dedup.cosSql("a.embedding", "b.embedding")} AS cos
         |  FROM pr a JOIN b
         |    ON a.probe = b.bucket AND a.label = b.label AND a.vec_id != b.vec_id),
         |r AS (
         |  SELECT probe_id, vec_id, cos,
         |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rk
         |  FROM sc)
         |SELECT probe_id, vec_id, cos, rk FROM r WHERE rk <= $KnnK
         |ORDER BY probe_id, rk""".stripMargin,
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_topk_bruteforce" -> (simTopkBruteforce _),
    "sim_lsh_ann" -> (simLshAnn _),
    "sim_range_search" -> (simRangeSearch _),
    "sim_range_recall" -> (simRangeRecall _),
    "emb_quant_int8" -> (embQuantInt8 _),
    "sim_sign_hamming" -> (simSignHamming _),
    "sim_ann_recall" -> (simAnnRecall _),
    "sim_ivf_recall" -> (simIvfRecall _),
    "sim_pq_recall" -> (simPqRecall _),
    "emb_class_sep" -> (embClassSep _),
    "emb_gram" -> (embGram _),
    "emb_gram_wide" -> (embGramWide _),
    "emb_pca_var" -> (embPcaVar _),
    "emb_pca_project" -> (embPcaProject _),
    "emb_whiten" -> (embWhiten _),
    "sim_knn_join" -> (simKnnJoin _),
    "sim_ivf_ann" -> (simIvfAnn _),
    "sim_ivf_trained" -> (simIvfTrained _),
    "sim_pq_ann" -> (simPqAnn _),
    "sim_pq_trained" -> (simPqTrained _),
    "sim_ivfpq_ann" -> (simIvfpqAnn _),
    "sim_ivfpq_rerank" -> (simIvfpqRerank _),
    "sim_matryoshka" -> (simMatryoshka _),
    "sim_ivfpq_recall" -> (simIvfpqRecall _),
    "sim_ivfpq_trained" -> (simIvfpqTrained _),
    "sim_ivfpq_trained_recall" -> (simIvfpqTrainedRecall _),
    "emb_label_centroids" -> (embLabelCentroids _),
    "emb_label_assign" -> (embLabelAssign _),
  )

  // lazy: referenced from `oracles`, which is initialized earlier in the file
  private lazy val assignOracle: String = {
    s"""WITH x AS (
       |  SELECT label, unnest(range(len(embedding))) AS d,
       |    unnest(list_transform(embedding, v -> CAST(v AS DOUBLE))) AS v
       |  FROM embeddings),
       |c AS (
       |  SELECT label, d,
       |    CAST(SUM(CAST(floor(v * 1e6) AS BIGINT)) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE) / 1e6 AS centroid
       |  FROM x GROUP BY label, d),
       |cv AS (
       |  SELECT label AS clbl, list(centroid ORDER BY d) AS cvec
       |  FROM c GROUP BY label),
       |dist AS (
       |  SELECT e.vec_id, e.label, cv.clbl,
       |    ${Dedup.dotSql("cv.cvec", "cv.cvec")}
       |      - 2.0 * ${Dedup.dotSql("e.embedding", "cv.cvec")} AS d2
       |  FROM embeddings e CROSS JOIN cv),
       |a AS (
       |  SELECT vec_id, label, clbl AS assigned FROM (
       |    SELECT vec_id, label, clbl,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, clbl) AS rn
       |    FROM dist) t WHERE rn = 1)
       |SELECT label, assigned, COUNT(*) AS n_vecs
       |FROM a GROUP BY label, assigned ORDER BY label, assigned""".stripMargin
  }

  // lazy: referenced from `oracles`, which is initialized earlier in the file
  private lazy val pqOracle: String = pqOracleSql(
    s"cb AS (SELECT vec_id AS j, embedding AS cemb FROM e WHERE vec_id < $NumCodes)")

  /** [[pqOracleSql]] with the TRAINED codebook as literal rows: the
    * per-subspace codewords concatenate back into one [[Dim]]-wide
    * vector per code id (the search only ever reads sub-slices), each
    * double embedded round-trip-exact via [[fmtD]]. */
  private def trainedPqSql(cb: IndexedSeq[IndexedSeq[IndexedSeq[Double]]]): String = {
    val rows = (0 until NumCodes).map { j =>
      val full = (0 until NumSubspaces).flatMap(m => cb(m)(j))
      s"($j, ${full.map(fmtD).mkString("[", ", ", "]")})"
    }.mkString(",\n    ")
    pqOracleSql(s"cb AS (SELECT * FROM (VALUES\n    $rows) AS t(j, cemb))")
  }

  // lazy: referenced from `oracles`, which is initialized earlier in the file
  /** Oracle twin of [[simIvfpqAnn]]'s residual IVFADC: the coarse
    * assignment of [[ivfOracle]], residual encoding per subspace
    * (d2 = |cb|² − 2(⟨x_m,cb⟩ − ⟨c_m,cb⟩), every dot the same
    * ascending 0.0-seeded fold the Spark side replays), the
    * |c_m + cb_mj|² reconstructed-norm tables recomputed from the same
    * derived relations, and the ⟨q,c⟩ + Σ ptab ADC score — association
    * orders mirrored term for term. */
  private lazy val ivfpqOracle: String = ivfpqOracleSql(
    s"""cent AS (
       |  SELECT vec_id AS cid, embedding AS cemb, n2 AS cn2 FROM e
       |  WHERE vec_id < $NumCentroids)""".stripMargin,
    s"cb AS (SELECT vec_id AS j, embedding AS cemb FROM e WHERE vec_id < $NumCodes)",
    s"e.n2 - 2.0 * ${Dedup.dotSql("e.embedding", "cent.cemb")} + cent.cn2")

  /** [[ivfpqOracle]] with the exact-cosine rerank tier over the
    * [[RerankR]]-deep ADC shortlist. */
  private lazy val ivfpqRerankOracle: String = ivfpqOracleSql(
    s"""cent AS (
       |  SELECT vec_id AS cid, embedding AS cemb, n2 AS cn2 FROM e
       |  WHERE vec_id < $NumCentroids)""".stripMargin,
    s"cb AS (SELECT vec_id AS j, embedding AS cemb FROM e WHERE vec_id < $NumCodes)",
    s"e.n2 - 2.0 * ${Dedup.dotSql("e.embedding", "cent.cemb")} + cent.cn2",
    RerankR)

  /** [[ivfpqOracleSql]] with the TRAINED model as literal rows — coarse
    * centroids with their Scala-fold |c|² ([[trainedIvfSql]]'s posture)
    * and the per-subspace RESIDUAL codewords concatenated back into one
    * [[Dim]]-wide list per code id ([[trainedPqSql]]'s trick: the
    * search only ever reads sub-slices), every double round-trip-exact
    * via [[fmtD]]. The coarse d2 drops the per-row |x|² term, exactly
    * as [[simIvfpqTrained]]'s assignment does. */
  private def trainedIvfpqSql(cents: IndexedSeq[IndexedSeq[Double]],
      cb: IndexedSeq[IndexedSeq[IndexedSeq[Double]]]): String = {
    val centRows = cents.zipWithIndex.map { case (c, i) =>
      s"($i, ${c.map(fmtD).mkString("[", ", ", "]")}, ${fmtD(c.map(x => x * x).sum)})"
    }.mkString(",\n    ")
    val cbRows = (0 until NumCodes).map { j =>
      val full = (0 until NumSubspaces).flatMap(m => cb(m)(j))
      s"($j, ${full.map(fmtD).mkString("[", ", ", "]")})"
    }.mkString(",\n    ")
    ivfpqOracleSql(
      s"cent AS (SELECT * FROM (VALUES\n    $centRows) AS t(cid, cemb, cn2))",
      s"cb AS (SELECT * FROM (VALUES\n    $cbRows) AS t(j, cemb))",
      s"cent.cn2 - 2.0 * ${Dedup.dotSql("e.embedding", "cent.cemb")}")
  }

  /** [[ivfpqOracle]]'s body over arbitrary `cent(cid, cemb, cn2)` /
    * `cb(j, cemb)` CTEs and coarse-assignment d2 expression — the fixed
    * variant derives both from the first-k vectors, the trained variant
    * passes literal VALUES rows; everything downstream (residual
    * encode, reconstructed norms, ADC score) derives from those CTEs
    * with the same exact folds either way. */
  private def ivfpqOracleSql(centCte: String, cbCte: String,
      assignD2: String, rerankR: Int = 0): String = {
    val n2 = Dedup.dotSql("embedding", "embedding")
    def sl(c: String, m: Int) = s"$c[${m * SubDim + 1}:${(m + 1) * SubDim}]"
    // c_m + cb_m as a list (distinct lambda var: nested inside dotSql's
    // i). Each element CASTs to DOUBLE BEFORE the add — the Spark side
    // adds already-widened doubles, and a raw float32 + float32 would
    // round at float precision first (a ~1e-9 cosine drift, caught by
    // the oracle gate)
    def rsum(m: Int) =
      s"list_transform(range(1, ${SubDim + 1}), rr -> CAST(${sl("cent.cemb", m)}[rr] AS DOUBLE) + CAST(${sl("cb.cemb", m)}[rr] AS DOUBLE))"
    val encCtes = (0 until NumSubspaces).map { m =>
      s"""d$m AS (
         |  SELECT e.vec_id, cb.j,
         |    ${Dedup.dotSql(sl("cb.cemb", m), sl("cb.cemb", m))}
         |      - 2.0 * (${Dedup.dotSql(sl("e.embedding", m), sl("cb.cemb", m))}
         |        - ${Dedup.dotSql(sl("cent.cemb", m), sl("cb.cemb", m))}) AS d2
         |  FROM e JOIN asg USING (vec_id) JOIN cent ON cent.cid = asg.cluster
         |  CROSS JOIN cb),
         |a$m AS (
         |  SELECT vec_id, j AS code$m FROM (
         |    SELECT vec_id, j,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, j) AS rn
         |    FROM d$m) t WHERE rn = 1),
         |n$m AS (
         |  SELECT cent.cid, cb.j, ${Dedup.dotSql(rsum(m), rsum(m))} AS c2
         |  FROM cent CROSS JOIN cb)"""
    }.mkString(",\n")
    val encJoin = (1 until NumSubspaces)
      .map(m => s"JOIN a$m USING (vec_id)").mkString(" ")
    val rn2 = (0 until NumSubspaces).map(m => s"c$m.c2").mkString(" + ")
    val rn2Joins = (0 until NumSubspaces)
      .map(m => s"JOIN n$m c$m ON c$m.cid = asg.cluster AND c$m.j = enc.code$m")
      .mkString(" ")
    val ip = (0 until NumSubspaces)
      .map(m => Dedup.dotSql(sl("p.pe", m), sl(s"cb$m.cemb", m))).mkString(" + ")
    val cbJoins = (0 until NumSubspaces)
      .map(m => s"JOIN cb cb$m ON cb$m.j = r2.code$m").mkString(" ")
    s"""WITH e AS (SELECT vec_id, embedding, $n2 AS n2 FROM embeddings),
       |$centCte,
       |$cbCte,
       |dd0 AS (
       |  SELECT e.vec_id, cent.cid,
       |    $assignD2 AS d2
       |  FROM e CROSS JOIN cent),
       |asg AS (
       |  SELECT vec_id, cid AS cluster FROM (
       |    SELECT vec_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |    FROM dd0) t WHERE rn = 1),
       |$encCtes,
       |enc AS (
       |  SELECT vec_id, ${(0 until NumSubspaces).map(m => s"code$m").mkString(", ")}
       |  FROM a0 $encJoin),
       |r2 AS (
       |  SELECT enc.vec_id, asg.cluster, ($rn2) AS rn2,
       |    ${(0 until NumSubspaces).map(m => s"enc.code$m").mkString(", ")}
       |  FROM enc JOIN asg USING (vec_id) $rn2Joins),
       |p AS (
       |  SELECT e.vec_id AS probe_id, e.embedding AS pe, e.n2 AS pn2,
       |    asg.cluster AS pc
       |  FROM e JOIN asg USING (vec_id) WHERE e.vec_id < 5),
       |sc AS (
       |  SELECT probe_id, r2.vec_id,
       |    (${Dedup.dotSql("p.pe", "pcent.cemb")} + $ip)
       |      / sqrt(p.pn2 * r2.rn2) AS approx_cos
       |  FROM r2 JOIN p ON r2.cluster = p.pc AND r2.vec_id != p.probe_id
       |  JOIN cent pcent ON pcent.cid = p.pc $cbJoins),
       |r AS (
       |  SELECT probe_id, vec_id, approx_cos,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id
       |      ORDER BY approx_cos DESC, vec_id) AS rk
       |  FROM sc)
       |""".stripMargin + (if (rerankR <= 0)
      s"""SELECT probe_id, vec_id, approx_cos, rk FROM r WHERE rk <= 5
         |ORDER BY probe_id, rk""".stripMargin
    else
      // tier 2: exact cosine over the R-deep ADC shortlist — the same
      // dot/sqrt spelling as sim_topk_bruteforce, norms re-derived by
      // the identical fold (cosSql), so doubles match the Spark
      // cosineWithNorms path bit-for-bit
      s""",
         |short AS (SELECT probe_id, vec_id FROM r WHERE rk <= $rerankR),
         |ex AS (
         |  SELECT s.probe_id, s.vec_id,
         |    ${Dedup.cosSql("p.pe", "c.embedding")} AS cos
         |  FROM short s
         |  JOIN e c ON c.vec_id = s.vec_id
         |  JOIN p ON p.probe_id = s.probe_id),
         |rr AS (
         |  SELECT probe_id, vec_id, cos,
         |    ROW_NUMBER() OVER (PARTITION BY probe_id
         |      ORDER BY cos DESC, vec_id) AS rk
         |  FROM ex)
         |SELECT probe_id, vec_id, cos, rk FROM rr WHERE rk <= 5
         |ORDER BY probe_id, rk""".stripMargin)
  }

  /** The PQ search oracle over an arbitrary codebook CTE (`cb(j, cemb)`
    * with cemb [[Dim]]-wide; sub-slicing happens in the SQL). */
  private def pqOracleSql(cbCte: String): String = {
    def sl(c: String, m: Int) = s"$c[${m * SubDim + 1}:${(m + 1) * SubDim}]"
    // per-subspace encode CTEs: distances to all codewords, then the
    // (d2, j)-lexicographic argmin — mirrors the Spark struct array_min
    val encCtes = (0 until NumSubspaces).map { m =>
      s"""d$m AS (
         |  SELECT e.vec_id, cb.j,
         |    ${Dedup.dotSql(sl("cb.cemb", m), sl("cb.cemb", m))}
         |      - 2.0 * ${Dedup.dotSql(sl("e.embedding", m), sl("cb.cemb", m))} AS d2
         |  FROM e CROSS JOIN cb),
         |a$m AS (
         |  SELECT vec_id, j AS code$m FROM (
         |    SELECT vec_id, j,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, j) AS rn
         |    FROM d$m) t WHERE rn = 1),
         |n$m AS (
         |  SELECT j, ${Dedup.dotSql(sl("cemb", m), sl("cemb", m))} AS c2 FROM cb)"""
    }.mkString(",\n")
    val encJoin = (1 until NumSubspaces)
      .map(m => s"JOIN a$m USING (vec_id)").mkString(" ")
    val rn2 = (0 until NumSubspaces).map(m => s"c$m.c2").mkString(" + ")
    val rn2Joins = (0 until NumSubspaces)
      .map(m => s"JOIN n$m c$m ON c$m.j = enc.code$m").mkString(" ")
    val ip = (0 until NumSubspaces)
      .map(m => Dedup.dotSql(sl("p.pe", m), sl(s"cb$m.cemb", m))).mkString(" + ")
    val cbJoins = (0 until NumSubspaces)
      .map(m => s"JOIN cb cb$m ON cb$m.j = r2.code$m").mkString(" ")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |$cbCte,
       |$encCtes,
       |enc AS (
       |  SELECT vec_id, ${(0 until NumSubspaces).map(m => s"code$m").mkString(", ")}
       |  FROM a0 $encJoin),
       |r2 AS (
       |  SELECT enc.vec_id, ($rn2) AS rn2,
       |    ${(0 until NumSubspaces).map(m => s"enc.code$m").mkString(", ")}
       |  FROM enc $rn2Joins),
       |p AS (
       |  SELECT vec_id AS probe_id, embedding AS pe,
       |    ${Dedup.dotSql("embedding", "embedding")} AS pn2
       |  FROM e WHERE vec_id < 5),
       |sc AS (
       |  SELECT probe_id, r2.vec_id,
       |    ($ip) / sqrt(p.pn2 * r2.rn2) AS approx_cos
       |  FROM r2 JOIN p ON r2.vec_id != p.probe_id $cbJoins),
       |r AS (
       |  SELECT probe_id, vec_id, approx_cos,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id
       |      ORDER BY approx_cos DESC, vec_id) AS rk
       |  FROM sc)
       |SELECT probe_id, vec_id, approx_cos, rk FROM r WHERE rk <= 5
       |ORDER BY probe_id, rk""".stripMargin
  }

  // lazy: referenced from `oracles`, which is initialized earlier in the file
  /** Wraps a full top-5 ANN oracle (its ORDER BY is legal in a
    * subquery) in the shared recall@5 compare — brute-force ground
    * truth, id-sets only, exact n/5 ratio. */
  private def recallOracleSql(annSql: String): String =
    s"""WITH ann AS (
       |  SELECT probe_id, vec_id FROM ($annSql) t),
       |p AS (
       |  SELECT vec_id AS probe_id, embedding AS pe
       |  FROM embeddings WHERE vec_id < 5),
       |sc AS (
       |  SELECT probe_id, e.vec_id,
       |    ${Dedup.cosSql("pe", "e.embedding")} AS cos
       |  FROM embeddings e CROSS JOIN p WHERE e.vec_id != probe_id),
       |bf AS (
       |  SELECT probe_id, vec_id FROM (
       |    SELECT probe_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rk
       |    FROM sc) t WHERE rk <= 5)
       |SELECT bf.probe_id, COUNT(ann.vec_id) AS n_hits,
       |  CAST(COUNT(ann.vec_id) AS DOUBLE) / 5.0 AS recall
       |FROM bf LEFT JOIN ann
       |  ON ann.probe_id = bf.probe_id AND ann.vec_id = bf.vec_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  private lazy val ivfOracle: String = {
    val n2 = Dedup.dotSql("embedding", "embedding")
    s"""WITH e AS (
       |  SELECT vec_id, embedding, $n2 AS n2 FROM embeddings),
       |c AS (
       |  SELECT vec_id AS cid, embedding AS cemb, n2 AS cn2 FROM e
       |  WHERE vec_id < $NumCentroids),
       |d AS (
       |  SELECT e.vec_id, e.embedding, e.n2, c.cid,
       |    e.n2 - 2.0 * ${Dedup.dotSql("e.embedding", "c.cemb")} + c.cn2 AS d2
       |  FROM e CROSS JOIN c),
       |a AS (
       |  SELECT vec_id, embedding, n2, cid AS cluster FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |    FROM d) t WHERE rn = 1),
       |p AS (
       |  SELECT vec_id AS probe_id, embedding AS pe, n2 AS pn2, cluster AS pc
       |  FROM a WHERE vec_id < 5),
       |sc AS (
       |  SELECT probe_id, a.vec_id,
       |    ${Dedup.dotSql("pe", "a.embedding")} / sqrt(pn2 * a.n2) AS cos
       |  FROM a JOIN p ON a.cluster = p.pc AND a.vec_id != p.probe_id),
       |r AS (
       |  SELECT probe_id, vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rk
       |  FROM sc)
       |SELECT probe_id, vec_id, cos, rk FROM r WHERE rk <= 5
       |ORDER BY probe_id, rk""".stripMargin
  }
}
