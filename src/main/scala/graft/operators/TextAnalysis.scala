package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.{hash60, hitCount, shingles, tokens}
import graft.sources.Tables
import graft.operators.Persists.PersistOps

/** SURVEY §2.F — text analysis over `documents`: token counting, quality
  * scoring, heuristic language ID, fingerprinting. All per-document map
  * work (narrow, no shuffle beyond the final presentation sort); at
  * 100 TB this is a pure scan pipeline.
  */
object TextAnalysis {

  private val STOP_EN = Seq("the", "a", "and", "of", "to", "in", "is")
  private val STOP_ES = Seq("el", "la", "de", "y", "que", "los")
  private val STOP_DE = Seq("der", "die", "das", "und", "ist", "ein")
  private val STOP_FR = Seq("le", "la", "de", "et", "les", "un")

  private def withTokens(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents").withColumn("tk",
      org.apache.spark.sql.graftexpr.TextExpressions.wordNgrams(col("text"), 1))

  /** [[withTokens]] with the doc_id range order established BELOW the
    * tokenizer ([[Present.spreadSorted]]): the per-doc serving queries
    * (tokens/quality/langid/fingerprint/LM/classifier) end in
    * `ORDER BY doc_id`, and sorting the scan first runs their kernel
    * map ONCE, spread, instead of twice serial (the range-sampling
    * cost — see spreadSorted's doc). */
  private def withTokensSorted(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .transform(Present.spreadSorted("doc_id"))
      .withColumn("tk",
        org.apache.spark.sql.graftexpr.TextExpressions.wordNgrams(col("text"), 1))

  /** Token counting: whitespace tokens + regex alpha-run terms. */
  def txtTokens(s: SparkSession, dir: String): DataFrame =
    withTokensSorted(s, dir).select(
      col("doc_id"),
      size(col("tk")).cast("bigint").as("n_tokens"),
      regexp_count(col("text"), lit("[a-z]+")).cast("bigint").as("n_alpha_runs"),
      length(col("text")).cast("bigint").as("n_chars_txt"))

  /** Lexical-diversity profile per document — the vocabulary-richness
    * gate next to [[txtQuality]]'s surface heuristics (a low type-token
    * ratio flags boilerplate/spam before any model runs; hapax share is
    * the classic Zipf-tail health check): one explode + (doc, word)
    * partial-agg pass (shuffle O(per-doc distinct words), never
    * re-tokenizing), then a doc-keyed rollup — token/type/hapax counts
    * exact integers, TTR one exact integer-ratio double. */
  def txtWordStats(s: SparkSession, dir: String): DataFrame = {
    // explode the tokenizer EXPRESSION directly (the txtDocfreq posture):
    // exploding a projected column lets InferFiltersFromGenerate push an
    // isnotnull/size>0 copy of the tokenizer into the scan (the plan gate
    // catches the duplication); a non-attribute generator input is exempt
    val wc = Tables.load(s, dir, "documents")
      .select(col("doc_id"), explode(org.apache.spark.sql.graftexpr
        .TextExpressions.wordNgrams(col("text"), 1)).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    wc.groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"), col("n_hapax"),
        (col("n_distinct").cast("double") / col("n_tokens").cast("double")).as("ttr"))
      .orderBy("doc_id")
  }

  /** Quality scoring: stopword ratio, mean token length, composite score. */
  /** The quality columns over a tokenized relation — shared by
    * [[txtQuality]] (sorted per-doc serving face) and the downstream
    * consumers (pipe_curriculum, smp_weighted), which AGGREGATE the
    * scores and must not inherit the serving face's range exchange
    * (the langidPred split — r21: the inherited spread made
    * pipe_curriculum pay the exchange + kernel twice). */
  private def qualityCols(docs: DataFrame): DataFrame = {
    val nTok = size(col("tk")).cast("double")
    val stop = hitCount(col("tk"), STOP_EN).cast("double")
    val charSum = org.apache.spark.sql.graftexpr.TextExpressions.tokenCharSum(col("tk"))
    docs.select(
      col("doc_id"),
      size(col("tk")).cast("bigint").as("n_tokens"),
      (stop / nTok).as("stop_ratio"),
      (charSum.cast("double") / nTok).as("mean_tok_len"),
      ((stop / nTok) * 0.3 + least(charSum.cast("double") / nTok / 10.0, lit(1.0)) * 0.7).as("score"))
  }

  /** Order-free twin of [[txtQuality]] for aggregate consumers. */
  private[operators] def qualityScores(s: SparkSession, dir: String): DataFrame =
    qualityCols(withTokens(s, dir))

  def txtQuality(s: SparkSession, dir: String): DataFrame =
    qualityCols(withTokensSorted(s, dir))

  /** The language-ID prediction columns over a tokenized relation —
    * shared by [[txtLangid]] (sorted per-doc face) and
    * [[txtLangidConf]] (aggregate face, which needs no row order and
    * must not inherit the per-doc face's range exchange). */
  private def langidPred(docs: DataFrame): DataFrame = {
    val hEn = hitCount(col("tk"), STOP_EN)
    val hEs = hitCount(col("tk"), STOP_ES)
    val hDe = hitCount(col("tk"), STOP_DE)
    val hFr = hitCount(col("tk"), STOP_FR)
    val pred = when(hEn >= greatest(hEs, hDe, hFr) && hEn > 0, "en")
      .when(hEs >= greatest(hDe, hFr) && hEs > 0, "es")
      .when(hDe >= hFr && hDe > 0, "de")
      .when(hFr > 0, "fr")
      .otherwise("und")
    docs.select(col("doc_id"), pred.as("pred_lang"), col("lang"),
      (pred === col("lang")).as("is_match"))
  }

  /** Heuristic language ID from stopword profiles, checked vs the label. */
  def txtLangid(s: SparkSession, dir: String): DataFrame =
    langidPred(withTokensSorted(s, dir))

  /** Language-ID CONFUSION MATRIX — the evaluation a curator reads
    * after [[txtLangid]]'s per-doc predictions (which languages leak
    * into which): per (true, predicted) pair the doc count and the
    * row-share (each row of the matrix sums to 1). The matrix is
    * O(|langs|²) rows; the share window runs over one true-lang row of
    * it, never documents. */
  def txtLangidConf(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    langidPred(withTokens(s, dir))
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("lang_total", sum(col("n_docs")).over(w))
      .select(col("lang"), col("pred_lang"), col("n_docs"),
        (col("n_docs").cast("double") / col("lang_total").cast("double"))
          .as("share"))
      .orderBy("lang", "pred_lang")
  }

  /** Fingerprints: full-content md5 + min-shingle rolling fingerprint. */
  def txtFingerprint(s: SparkSession, dir: String): DataFrame =
    withTokensSorted(s, dir).select(
      col("doc_id"),
      md5(col("text")).as("fp_full"),
      // min over the distinct-gram hash set == min over all gram hashes
      array_min(org.apache.spark.sql.graftexpr.TextExpressions
        .hashWordNgrams(col("text"), 3)).as("fp_min_shingle"))

  /** PII scrubbing: multi-pattern regex redaction with per-pattern match
    * counts and a checksum of the scrubbed text — all narrow codegen'd
    * scan work (regexp_count + chained global regexp_replace), so at
    * 100 TB it is a pure map pipeline like the rest of §2.F.
    *
    * The synthetic corpus carries no PII, so the query first seeds each
    * document with a DETERMINISTIC synthetic email (2 of every 3 docs)
    * and phone — integer-derived, so both engines compose byte-identical
    * text — and the checksum then proves the scrub excised exactly those
    * spans. Swap the patterns for production email/phone/ssn regexes;
    * the plumbing is unchanged. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "555-[0-9]{4}"

  def txtPii(s: SparkSession, dir: String): DataFrame = {
    val seeded = Tables.load(s, dir, "documents")
      .transform(Present.spreadSorted("doc_id"))
      .select(
      col("doc_id"),
      concat(
        col("text"),
        when(col("doc_id") % 3 === 0, lit(""))
          .otherwise(concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))),
        lit(" tel 555-"),
        lpad((col("doc_id") * 7927 % 10000).cast("string"), 4, "0")).as("txt"))
    seeded.select(
      col("doc_id"),
      regexp_count(col("txt"), lit(EmailRe)).cast("bigint").as("n_emails"),
      regexp_count(col("txt"), lit(PhoneRe)).cast("bigint").as("n_phones"),
      md5(regexp_replace(regexp_replace(col("txt"), EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>")).as("scrubbed_md5"))
  }

  /** Corpus-level phrase statistics: the global top-20 word bigrams by
    * frequency (ties to the byte-order-smaller n-gram) — the vocabulary/
    * phrase-table pass a tokenizer-training pipeline runs over the raw
    * corpus. The explode is narrow; map-side partial aggregation
    * collapses each partition to its distinct bigrams before the
    * O(distinct)-row shuffle, and the global top-k is a
    * TakeOrderedAndProject (k rows per partition cross to the driver,
    * never a full sort shuffle) — at 100 TB the wire carries distinct
    * phrases and a 20-row head, not token occurrences. */
  def txtNgramTop(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(explode(org.apache.spark.sql.graftexpr.TextExpressions
        .wordNgrams(col("text"), 2)).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ngram"))
      .limit(20)

  /** Zipf-law diagnostics over the corpus vocabulary (the sanity check
    * a corpus curator runs on word frequencies — natural text keeps
    * rank·frequency roughly constant; synthetic/boilerplate corpora
    * don't): the global top-30 words by frequency with rank, the exact
    * rank·freq Zipf product and the frequency relative to rank 1. The
    * corpus-wide count is one explode + partial-agg pass with a
    * TakeOrderedAndProject head; the rank window runs over the 30-row
    * head only. */
  def txtZipfTop(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val freq = Tables.load(s, dir, "documents")
      .select(explode(org.apache.spark.sql.graftexpr.TextExpressions
        .wordNgrams(col("text"), 1)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w")).limit(30)
    freq
      .withColumn("rank",
        row_number().over(w.orderBy(desc("freq"), asc("w"))).cast("bigint"))
      .withColumn("f1", max(col("freq")).over(w.partitionBy()))
      .select(col("rank"), col("w"), col("freq"),
        (col("rank") * col("freq")).as("zipf_c"),
        (col("freq").cast("double") / col("f1").cast("double")).as("rel_freq"))
      .orderBy("rank")
  }

  /** Document-frequency table: the top-50 tokens by the NUMBER OF
    * DOCUMENTS containing them (ties to the byte-order-smaller token) —
    * the IR statistic behind IDF weighting and data-driven stopword
    * detection, distinct from occurrence counts ([[txtNgramTop]] /
    * vocab): a token spammed in one document counts once here. Each
    * document's tokens dedupe locally (bounded by doc length); map-side
    * partial aggregation collapses partitions to distinct tokens before
    * the O(distinct) shuffle; the head is a TakeOrderedAndProject. */
  def txtDocfreq(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .select(explode(array_distinct(
        org.apache.spark.sql.graftexpr.TextExpressions.wordNgrams(col("text"), 1)))
        .as("token"))
      .groupBy("token").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("token"))
      .limit(50)

  /** Minimum document frequency for [[txtTfidfTop]]'s vocabulary: a
    * token must appear in at least this many documents to be scored —
    * the standard min_df cut (sklearn's `min_df=2`): single-document
    * tokens are mostly typos/ids/serials, and their idf is degenerate. */
  val TfidfMinDf = 2

  /** TF-IDF top terms per document: each document's top-3 tokens by
    * rarity-weighted frequency — REAL rare-term emphasis (tf/df scores
    * the rarest surviving token highest), with the vocabulary bounded
    * by a document-frequency THRESHOLD (df >= [[TfidfMinDf]]), not a
    * most-common-token cap. The per-doc term counts (tf) are ONE
    * partial-agg pass over the corpus, persisted: the narrow
    * (doc_id, token, tf) relation feeds BOTH the df aggregate and the
    * scoring join — without the cache boundary each branch would
    * re-scan AND re-tokenize the corpus (the pipe_clean lesson). The df
    * relation is vocabulary-scale, so the scoring join is pinned
    * shuffle_hash on token (hash-partition co-location — a vocabulary
    * is never broadcastable at 100 TB); the per-doc head goes through
    * the bounded-heap TopKPerKey: <= 3 rows per (doc, partition) cross
    * the wire, never a per-doc sort.
    *
    * Scoring is log-free on purpose: tf/df preserves the tf*(N/df)
    * ranking for the constant corpus size N and costs ONE correctly-
    * rounded IEEE division, so both engines produce the identical
    * double bit pattern (ln() is not correctly rounded and differs
    * across libm implementations). */
  def txtTfidfTop(s: SparkSession, dir: String): DataFrame = {
    val tf = Tables.load(s, dir, "documents")
      .select(col("doc_id"), explode(org.apache.spark.sql.graftexpr.TextExpressions
        .wordNgrams(col("text"), 1)).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .cachedPersist()
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
      .filter(col("df") >= TfidfMinDf)
    val scored = tf.join(df.hint("shuffle_hash"), "token")
      .withColumn("score", col("tf").cast("double") / col("df").cast("double"))
    org.apache.spark.sql.graftexpr.TopKPerKey
      .perKey(scored, Seq("doc_id"), Seq(("score", false), ("token", true)), 3)
      .select("doc_id", "token", "tf", "df", "score")
      .orderBy(col("doc_id"), col("score").desc, col("token"))
  }

  /** Feature-hashing TF (the "hashing trick", Weinberger et al. 2009 —
    * the fixed-width featurization large-scale text classifiers and
    * quality models use when a trained vocabulary is too big or too
    * slow to ship): every token maps to one of [[HashTfBuckets]] buckets
    * through a stateless hash, so the feature space is bounded BEFORE
    * the shuffle — per-bucket partials combine map-side and the exchange
    * carries O(#buckets) rows per partition regardless of vocabulary
    * size, the same posture that makes it the 100 TB featurizer. The
    * hash is the REAL production one: Spark's native `hash()` —
    * Murmur3_x86_32 (seed 42) over the token's UTF-8 bytes, codegen'd —
    * and the oracle replays the identical algorithm in SQL
    * ([[murmurBucketSql]]: same 4-byte little-endian words, same
    * sign-extended tail bytes, same avalanche). Bucketing keeps
    * `pmod(hash, buckets)` equal to the oracle's unsigned `% buckets`
    * because [[HashTfBuckets]] is a power of two (it divides 2^32, so
    * the sign wrap is invisible mod buckets). Emits per-bucket total
    * occurrences and exact document frequency. */
  val HashTfBuckets = 64
  require(Integer.bitCount(HashTfBuckets) == 1,
    "HashTfBuckets must be a power of two: the oracle's unsigned % equals pmod only when buckets divides 2^32")

  def txtHashTf(s: SparkSession, dir: String): DataFrame = {
    val tok = col("tok")
    val bucket = pmod(hash(tok), lit(HashTfBuckets))
    withTokens(s, dir)
      // explode_OUTER + null filter == explode, but without the
      // inferred size(tk)>0 / isnotnull(tk) predicates that push into
      // the scan with the tokenizer expression inlined (tokenization
      // ran 3x per document, plan-dump verified); the null filter sits
      // above the Generate and reads the generated column only
      .select(col("doc_id"), explode_outer(col("tk")).as("tok"))
      .filter(col("tok").isNotNull)
      .select(col("doc_id"), bucket.cast("bigint").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_tokens"),
        count_distinct(col("doc_id")).as("n_docs"))
      .transform(Present.fused("bucket"))
  }

  /** Model-based quality scoring — the trained-classifier gate every
    * modern curation stack runs beside the heuristics (CCNet/fastText,
    * Gopher, LLaMA: a linear model over cheap features filters what
    * rules can't): a perceptron over the [[txtHashTf]] 64-bucket
    * murmur3 hash-TF features, DISTILLED from the [[Pipeline.pipeClean]]
    * heuristic gate on a bounded deterministic sample (the CCNet
    * posture — train against a trusted signal, serve corpus-wide).
    *
    * Everything is INTEGER: features are token counts, the perceptron
    * update is `w += y·x`, so the trained weights are exact longs and
    * the serving margin `Σ_tok w[bucket(tok)] + bias` is one exact
    * BIGINT fold — order-free, replayed bit-for-bit by the DuckDB
    * oracle from literal weights (no sigmoid: exp/ln don't cross
    * engines, the margin and its sign do — SURVEY §5).
    *
    * Scale posture: training collects <= [[ClfSampleCap]] bucket-index
    * lists (a bounded model artifact, the sim_*_trained discipline);
    * serving is a pure narrow per-document map over the tokenizer
    * column — no explode, no join, no shuffle beyond the final sort. */
  val ClfSampleMod = 7
  val ClfSampleCap = 4096
  val ClfEpochs = 10

  private val clfByDir =
    scala.collection.concurrent.TrieMap.empty[String, (IndexedSeq[Long], Long)]
  private val clfCache =
    scala.collection.concurrent.TrieMap
      .empty[(SparkSession, String), (String, (IndexedSeq[Long], Long))]

  /** Train (or serve the memoized fit of) the quality perceptron for
    * `dir`. Deterministic: the sample is doc_id-filtered and
    * doc_id-ordered, epochs visit it in that order, and all arithmetic
    * is integer — identical data yields identical weights. */
  private[graft] def trainedClassifier(s: SparkSession, dir: String): (IndexedSeq[Long], Long) = {
    def fit(): (IndexedSeq[Long], Long) = {
      val nTokD = size(col("tk")).cast("double")
      val stop = hitCount(col("tk"), STOP_EN).cast("double")
      val charSum = org.apache.spark.sql.graftexpr.TextExpressions.tokenCharSum(col("tk"))
      // the pipe_clean heuristic gate, verbatim, as the training label
      val lowq = size(col("tk")) < 5 || (stop / nTokD) > 0.5 ||
        (charSum.cast("double") / nTokD) > 12.0
      val sample = withTokens(s, dir)
        .filter(col("doc_id") % lit(ClfSampleMod) === 0)
        .select(col("doc_id"),
          transform(col("tk"),
            t => pmod(hash(t), lit(HashTfBuckets)).cast("int")).as("bks"),
          lowq.as("lowq"))
        .orderBy("doc_id").limit(ClfSampleCap)
        .collect()
      val data = sample.map { r =>
        val x = new Array[Long](HashTfBuckets)
        r.getSeq[Int](1).foreach(b => x(b) += 1L)
        (x, if (r.getBoolean(2)) -1L else 1L) // +1 = keep
      }
      val w = new Array[Long](HashTfBuckets)
      var b = 0L
      var ep = 0
      while (ep < ClfEpochs) {
        data.foreach { case (x, y) =>
          var m = b
          var i = 0
          while (i < HashTfBuckets) { m += w(i) * x(i); i += 1 }
          if (y * m <= 0L) {
            i = 0
            while (i < HashTfBuckets) { w(i) += y * x(i); i += 1 }
            b += y
          }
        }
        ep += 1
      }
      (w.toIndexedSeq, b)
    }
    // an unfingerprintable table trains fresh rather than risking a
    // stale memo hit (the Similarity.trainedCentroids posture)
    val model = Tables.fingerprint(s, dir, "documents") match {
      case None => fit()
      case Some(fp) =>
        clfCache.get((s, dir)) match {
          case Some((`fp`, m)) => m
          case _ =>
            val m = fit()
            clfCache.update((s, dir), (fp, m))
            m
        }
    }
    clfByDir.update(dir, model)
    lastDirRef.set(dir)
    model
  }

  /** The serving margin as a Column over the token-array column: one
    * exact integer fold per document (narrow, codegen'd hash). Shared
    * with [[Pipeline.pipeClean]]'s optional classifier gate. */
  private[graft] def clfMarginCol(w: IndexedSeq[Long], bias: Long, tk: Column): Column = {
    val warr = array(w.map(lit(_)): _*)
    aggregate(tk, lit(bias),
      (acc, t) => acc + element_at(warr, pmod(hash(t), lit(HashTfBuckets)).cast("int") + 1))
  }

  def txtClassifierScore(s: SparkSession, dir: String): DataFrame = {
    val (w, bias) = trainedClassifier(s, dir)
    withTokensSorted(s, dir)
      .select(col("doc_id"), clfMarginCol(w, bias, col("tk")).as("margin"))
      .select(col("doc_id"), col("margin"),
        when(col("margin") > 0L, 1L).otherwise(0L).as("keep"))
  }

  /** Oracle: replay the scoring from LITERAL trained weights — murmur3
    * re-derived in SQL over the same tokens ([[murmurBucketCtes]]),
    * margin as an exact integer sum, left join for zero-token docs. */
  private def clfScoreSql(w: IndexedSeq[Long], bias: Long): String = {
    val vals = w.zipWithIndex.map { case (wt, k) => s"($k, $wt)" }.mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
       |                                    x -> len(x) > 0)) AS tok
       |  FROM documents),
       |${murmurBucketCtes(HashTfBuckets)},
       |wts(bucket, wgt) AS (VALUES $vals),
       |sc AS (SELECT b.doc_id, SUM(wts.wgt) AS s
       |       FROM b JOIN wts USING (bucket) GROUP BY 1)
       |SELECT d.doc_id, CAST(COALESCE(sc.s, 0) + ($bias) AS BIGINT) AS margin,
       |  CAST(CASE WHEN COALESCE(sc.s, 0) + ($bias) > 0 THEN 1 ELSE 0 END
       |    AS BIGINT) AS keep
       |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // ── txt_lm_score: n-gram language-model quality scoring ───────────

  /** Trained-LM table sizes: top-V unigrams and top-B bigrams by corpus
    * count (ties broken by token text) — bounded literal artifacts, the
    * [[trainedClassifier]] / sim_*_trained discipline. */
  val LmUniV = 96
  val LmBiB = 96
  /** Training-sample modulus (the [[ClfSampleMod]] discipline): the LM
    * fits on documents with `doc_id % LmSampleMod == 0` and serves
    * corpus-wide — the CCNet posture (the reference LM never trains on
    * the full target corpus), and the only posture whose training cost
    * stays a fixed fraction at 100 TB. */
  val LmSampleMod = 7
  /** Keep gate: mean quantized log-prob per token >= this (micro-nats).
    * The comparison is the exact BIGINT cross-multiplication
    * `qlog_sum >= n_tokens * thr` — no division crosses engines. */
  val LmKeepThrQ = -10000000L

  /** The trained LM artifact: per-token and per-bigram quantized
    * log-probs (micro-nats, `floor(1e6 * ln p)` — quantized DRIVER-side
    * so no transcendental ever evaluates inside either engine), the
    * out-of-vocabulary score and the stupid-backoff penalty. */
  private[graft] final case class LmModel(
      uniQ: IndexedSeq[(String, Long)],
      biQ: IndexedSeq[(String, String, Long)],
      unkQ: Long,
      backQ: Long)

  private val lmByDir =
    scala.collection.concurrent.TrieMap.empty[String, LmModel]
  private val lmCache =
    scala.collection.concurrent.TrieMap
      .empty[(SparkSession, String), (String, LmModel)]

  /** Train (or serve the memoized fit of) the stupid-backoff bigram LM
    * for `dir` — the perplexity-style quality signal every modern
    * curation stack runs beside the classifier (CCNet scores documents
    * with a reference LM; Brants et al. 2007's stupid backoff is the
    * published web-scale spelling: `S(c|p) = count(pc)/count(p)` when
    * the bigram is in the table, else `0.4 * S(c)` with relative
    * unigram frequencies — no discounting, which is what makes every
    * probability an exact corpus-count ratio).
    *
    * Distributed work is two partial-aggregated count passes over the
    * [[LmSampleMod]] doc_id-deterministic training sample — unigram
    * counts O(distinct tokens) (persisted: the total, top-V and context
    * probes all read it) and bigram counts O(distinct bigrams) — with
    * bounded TakeOrdered heads. Everything collected is a model
    * artifact: <= V + B count rows plus the contexts of the top
    * bigrams. The log quantization runs driver-side on exact count
    * ratios, so identical data yields identical literal tables. */
  private[graft] def trainedLm(s: SparkSession, dir: String): LmModel = {
    def fit(): LmModel = {
      val toks = withTokens(s, dir)
        .filter(col("doc_id") % lit(LmSampleMod) === 0)
        .select(col("doc_id"), col("tk"))
      // explode_outer + null filter (not explode): no inferred
      // size(tk) > 0 predicate re-tokenizing inside the scan
      val uni = toks
        .select(explode_outer(col("tk")).as("t"))
        .filter(col("t").isNotNull)
        .groupBy("t").agg(count(lit(1)).as("c"))
        .cachedPersist()
      val totalN = uni.agg(coalesce(sum("c"), lit(0L)).as("n"))
        .collect().head.getLong(0)
      val topU = uni.orderBy(col("c").desc, col("t")).limit(LmUniV)
        .collect().map(r => (r.getString(0), r.getLong(1))).toIndexedSeq
      // consecutive-pair counts from the already-tokenized column: two
      // length-(n-1) slices zipped, no second tokenize pass
      val len1 = greatest(size(col("tk")) - 1, lit(0))
      val bi = toks
        .select(explode_outer(zip_with(
          slice(col("tk"), lit(1), len1), slice(col("tk"), lit(2), len1),
          (p, c) => struct(p.as("p"), c.as("c")))).as("pc"))
        .filter(col("pc").isNotNull)
        .groupBy(col("pc.p").as("p"), col("pc.c").as("c"))
        .agg(count(lit(1)).as("cb"))
      val topB = bi.orderBy(col("cb").desc, col("p"), col("c")).limit(LmBiB)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toIndexedSeq
      // counts of bigram CONTEXTS outside the top-V vocabulary (the
      // backoff denominator) — one bounded probe of the same relation
      val uniCount = topU.toMap
      val ctxNeeded = topB.map(_._1).distinct.filterNot(uniCount.contains)
      val ctx =
        if (ctxNeeded.isEmpty) Map.empty[String, Long]
        else uni.filter(col("t").isin(ctxNeeded: _*))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val cAll = uniCount ++ ctx
      def q(num: Long, den: Long): Long =
        if (num <= 0L || den <= 0L) 0L
        else math.floor(1e6 * math.log(num.toDouble / den.toDouble)).toLong
      LmModel(
        topU.map { case (t, c) => (t, q(c, totalN)) },
        topB.map { case (p, c, cb) => (p, c, q(cb, cAll(p))) },
        if (totalN > 0L) q(1L, 2L * totalN) else 0L,
        math.floor(1e6 * math.log(0.4)).toLong)
    }
    // an unfingerprintable table trains fresh rather than risking a
    // stale memo hit (the trainedClassifier posture)
    val model = Tables.fingerprint(s, dir, "documents") match {
      case None => fit()
      case Some(fp) =>
        lmCache.get((s, dir)) match {
          case Some((`fp`, m)) => m
          case _ =>
            val m = fit()
            lmCache.update((s, dir), (fp, m))
            m
        }
    }
    lmByDir.update(dir, model)
    lastDirRef.set(dir)
    model
  }

  /** LM quality scoring (serving): per-document total and mean
    * quantized log-prob under the trained stupid-backoff bigram LM,
    * plus the keep decision of the threshold gate. The first token
    * scores by unigram, each consecutive pair by bigram-with-backoff;
    * the whole score is ONE narrow per-document integer fold over
    * literal lookup maps — no explode, no join, order-free exact BIGINT
    * adds ([[txtClassifierScore]]'s serving posture), which is why it
    * survives 100 TB: corpus rows never shuffle, only the final sort.
    * `try_element_at` (not `element_at`): out-of-table lookups must
    * yield the backoff path, not an ANSI MAP_KEY_DOES_NOT_EXIST. */
  private[graft] def lmQsumCol(m: LmModel, tk: Column): Column = {
    val uniMap =
      if (m.uniQ.isEmpty) map()
      else map(m.uniQ.flatMap { case (t, q) => Seq(lit(t), lit(q)) }: _*)
    val biMap =
      if (m.biQ.isEmpty) map()
      else map(m.biQ.flatMap { case (p, c, q) =>
        Seq(lit(s"$p $c"), lit(q))
      }: _*)
    val n = size(tk)
    def uq(t: Column): Column =
      coalesce(try_element_at(uniMap, t), lit(m.unkQ))
    val len1 = greatest(n - 1, lit(0))
    val pairQ = aggregate(
      zip_with(slice(tk, lit(1), len1), slice(tk, lit(2), len1),
        (p, c) => coalesce(try_element_at(biMap, concat(p, lit(" "), c)),
          lit(m.backQ) + coalesce(try_element_at(uniMap, c), lit(m.unkQ)))),
      lit(0L), (acc, q) => acc + q)
    when(n === 0, lit(0L)).otherwise(uq(element_at(tk, 1)) + pairQ)
  }

  /** LM quality scoring (serving) — see [[lmQsumCol]], the fold shared
    * with [[graft.streaming.StreamingQuality]] so stream and batch
    * score a document identically. */
  def txtLmScore(s: SparkSession, dir: String): DataFrame = {
    val m = trainedLm(s, dir)
    withTokensSorted(s, dir)
      .select(col("doc_id"), size(col("tk")).cast("bigint").as("n_tokens"),
        lmQsumCol(m, col("tk")).as("qlog_sum"))
      .select(col("doc_id"), col("n_tokens"), col("qlog_sum"),
        when(col("n_tokens") > 0L,
          col("qlog_sum").cast("double") / col("n_tokens").cast("double"))
          .as("avg_qlog"),
        when(col("n_tokens") > 0L &&
          col("qlog_sum") >= col("n_tokens") * lit(LmKeepThrQ), 1L)
          .otherwise(0L).as("keep"))
  }

  /** Oracle: replay the scoring from the LITERAL trained tables — the
    * same whitespace tokens, first-token unigram + per-pair
    * bigram-or-backoff via LEFT JOINs (the relational spelling of the
    * Spark fold; both sides are exact BIGINT sums so order never
    * matters), the identical integer threshold cross-multiplication. */
  private def lmScoreSql(m: LmModel): String = {
    // a zero-row VALUES list is illegal; the empty token is unreachable
    // (tokens are len > 0), so a ('', 0) dummy row never matches
    val uniVals =
      if (m.uniQ.isEmpty) "('', 0)"
      else m.uniQ.map { case (t, q) => s"('${sqlLit(t)}', $q)" }.mkString(", ")
    val biVals =
      if (m.biQ.isEmpty) "('', '', 0)"
      else m.biQ.map { case (p, c, q) =>
        s"('${sqlLit(p)}', '${sqlLit(c)}', $q)"
      }.mkString(", ")
    s"""WITH tkt AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '),
       |                             x -> len(x) > 0) AS tk
       |  FROM documents),
       |lm_u(tok, q) AS (VALUES $uniVals),
       |lm_b(p, c, q) AS (VALUES $biVals),
       |fu AS (
       |  SELECT f.doc_id, COALESCE(u.q, ${m.unkQ}) AS q
       |  FROM (SELECT doc_id, tk[1] AS tok FROM tkt WHERE len(tk) > 0) f
       |  LEFT JOIN lm_u u ON f.tok = u.tok),
       |pr AS (
       |  SELECT doc_id, pc.p AS p, pc.c AS c FROM (
       |    SELECT doc_id, unnest(list_transform(range(2, len(tk) + 1),
       |        i -> {'p': tk[i - 1], 'c': tk[i]})) AS pc
       |    FROM tkt WHERE len(tk) >= 2)),
       |pq AS (
       |  SELECT pr.doc_id,
       |    COALESCE(b.q, (${m.backQ}) + COALESCE(u.q, ${m.unkQ})) AS q
       |  FROM pr
       |  LEFT JOIN lm_b b ON pr.p = b.p AND pr.c = b.c
       |  LEFT JOIN lm_u u ON pr.c = u.tok),
       |sm AS (
       |  SELECT doc_id, CAST(SUM(q) AS BIGINT) AS qs
       |  FROM (SELECT * FROM fu UNION ALL SELECT * FROM pq)
       |  GROUP BY 1)
       |SELECT k.doc_id,
       |  CAST(len(k.tk) AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(s.qs, 0) AS BIGINT) AS qlog_sum,
       |  CASE WHEN len(k.tk) > 0
       |    THEN CAST(COALESCE(s.qs, 0) AS DOUBLE) / CAST(len(k.tk) AS DOUBLE)
       |  END AS avg_qlog,
       |  CAST(CASE WHEN len(k.tk) > 0
       |         AND COALESCE(s.qs, 0) >= CAST(len(k.tk) AS BIGINT) * ($LmKeepThrQ)
       |       THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM tkt k LEFT JOIN sm s ON k.doc_id = s.doc_id
       |ORDER BY k.doc_id""".stripMargin
  }

  /** Per-source language mix — the curation dashboard a corpus builder
    * reads before setting mixture weights ("how anglophone is crawlB?"):
    * (source, lang) counts plus each language's exact fraction of its
    * source. One partial-aggregated pass over metadata columns (text
    * never read — column pruning leaves a 2-column scan), the
    * per-source totals ride a window over the O(|sources|·|langs|)
    * aggregate, and the fraction is one exact integer-ratio double. */
  def txtLangidMix(s: SparkSession, dir: String): DataFrame = {
    val bySrc = org.apache.spark.sql.expressions.Window.partitionBy("source")
    Tables.load(s, dir, "documents")
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("n_source", sum(col("n_docs")).over(bySrc))
      .select(col("source"), col("lang"), col("n_docs"),
        (col("n_docs").cast("double") / col("n_source").cast("double"))
          .as("frac"))
      .orderBy("source", "lang")
  }

  /** Per-language document-length profile (n_chars quantiles +
    * extremes) — the length-distribution snapshot behind min/max-length
    * curation filters, per language so a short-doc-heavy language
    * doesn't hide inside the global profile. Integer lengths through
    * the percentile_disc histogram scaffold (per-lang value histogram,
    * histogram-bounded cumulative window, conditional MIN per
    * quantile) — deterministic cross-engine, no text read. */
  def txtLenProfile(s: SparkSession, dir: String): DataFrame = {
    val hist = Tables.load(s, dir, "documents")
      .groupBy("lang", "n_chars")
      .agg(count(lit(1)).as("cnt"))
    val cum = Window.partitionBy("lang").orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val h = hist
      .withColumn("cum", sum(col("cnt")).over(cum))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy("lang")))
    def pick(q: Double) =
      min(when(col("cum") >= ceil(col("n") * lit(q)).cast("bigint"), col("n_chars")))
    h.groupBy("lang")
      .agg(max(col("n")).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        pick(0.50).as("med_chars"), pick(0.90).as("p90_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy("lang")
  }

  /** Number of BPE merge rounds [[txtBpeVocab]] trains. Fixed so the
    * oracle's generated replay has the same depth. */
  val BpeRounds = 12

  /** Tokens eligible for BPE: whitespace words WITHOUT the `|` symbol
    * delimiter. The `|`-wrapped encoding ([[trainBpe]]) requires a
    * `|`-free alphabet — a token containing `|` would read as spurious
    * empty symbols — so the tokenizer's declared precondition is
    * enforced here, identically in both engines (the oracle filters
    * `NOT contains(x, '|')`). */
  private[operators] def bpeTokens(c: Column): Column =
    filter(org.apache.spark.sql.graftexpr.TextExpressions.wordNgrams(c, 1),
      w => not(w.contains("|")))

  /** The oracle-side twin of [[bpeTokens]]. */
  private[operators] val BpeTokensSql =
    "list_filter(string_split(text, ' '), x -> len(x) > 0 AND NOT contains(x, '|'))"

  /** Trained merge tables memoized per (session, dir) and keyed by the
    * documents fingerprint — the [[graft.operators.Similarity]]
    * trained-model posture: Verify/Bench passes reuse one training run
    * instead of re-looping per query execution. LRU beyond cap 16 with
    * stopped-session entries evicted first (the [[Dedup]] ccCache
    * posture) so a long-lived session over many dirs stays bounded;
    * entries are k-row merge tables, so recomputation is the only cost
    * of an eviction. */
  private val bpeCache = new java.util.LinkedHashMap[
    (SparkSession, String), (String, Seq[(Long, String, String, Long)])](32, 0.75f, true)

  /** Trained merge tables keyed BY DIR — read by [[oracles]] AFTER the
    * queries have run (Verify's order) to embed the trained merges into
    * the txt_bpe_encode/txt_bpe_freq oracle SQL (the
    * [[Similarity.oracles]] trained-literal posture). */
  private val mergesByDir =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(Long, String, String, Long)]]
  private val oracleDirRef =
    new java.util.concurrent.atomic.AtomicReference[String](null)
  private val lastDirRef =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  /** Pin which dir's trained merges [[oracles]] embeds (Verify sets its
    * sfDir before dumping oracle_sql.json). */
  def setOracleDir(dir: String): Unit = oracleDirRef.set(dir)

  private def dirForOracles: Option[String] =
    Option(oracleDirRef.get).orElse(Option(lastDirRef.get))

  /** The memoized trained merge table for `dir` — trains on first use
    * (see [[trainBpe]]); every BPE face (vocab/encode/freq) and the
    * oracle generator serve from the same fit. */
  private[graft] def trainedMerges(s: SparkSession, dir: String): Seq[(Long, String, String, Long)] = {
    val merges = Tables.fingerprint(s, dir, "documents") match {
      case None => trainBpe(s, dir) // unverifiable content: no memo
      case Some(fp) =>
        val key = (s, dir)
        (bpeCache.synchronized {
          if (bpeCache.size > 16) {
            val dead = bpeCache.keySet.iterator
            while (dead.hasNext) if (dead.next()._1.sparkContext.isStopped) dead.remove()
          }
          val lru = bpeCache.keySet.iterator
          while (bpeCache.size > 16 && lru.hasNext) {
            if (lru.next() != key) lru.remove()
          }
          Option(bpeCache.get(key))
        }) match {
          case Some((`fp`, m)) => m
          case _ =>
            val m = trainBpe(s, dir)
            bpeCache.synchronized { bpeCache.put(key, (fp, m)): Unit }
            m
        }
    }
    mergesByDir.update(dir, merges)
    lastDirRef.set(dir)
    merges
  }

  /** The BPE pair-merge training loop (tokenizer training's core pass).
    *
    * Words are trained as TYPES weighted by corpus frequency: the word-
    * frequency table is one partial-agg pass over the corpus, and every
    * merge round after that touches only the O(distinct-words) relation —
    * at 100 TB the corpus is scanned ONCE; the loop itself is
    * [[Dedup.connectedComponents]]'s driver-loop pattern (k rounds, each
    * one bounded partial-agg shuffle plus a 1-row collect).
    *
    * Symbol sequences ride in ONE string column with each symbol wrapped
    * in `|` (`"low" -> "|l||o||w|"`): the greedy left-to-right
    * non-overlapping merge BPE specifies is then exactly SQL `replace`'s
    * contract, in BOTH engines — `replace(enc, "|l||o|", "|lo|")` — so
    * the oracle replays the merge with the engine's own scan, no UDF.
    * (A fold-based array merge is equivalent: the merged symbol
    * `s1+s2` can never equal `s1`, so a replacement can't re-trigger
    * within the same pass.) Merge choice is totally ordered
    * (count desc, then pair lexicographic), so the k-round trajectory is
    * deterministic and the DuckDB replay picks identical pairs.
    *
    * Per round: pair counts = adjacent-symbol explode + map-side partial
    * agg (shuffle carries O(distinct pairs), not occurrences); best pair
    * = a 1-row collect (bounded driver artifact, like the CC convergence
    * probe); merge = one narrow map, persisted so the next round reads
    * the cache, previous round unpersisted once superseded. */
  private def trainBpe(s: SparkSession, dir: String): Seq[(Long, String, String, Long)] =
    trainBpeDriver(s, dir, BpeRounds)

  /** Cap on the word-TYPE table the driver-side trainer collects. BPE
    * training state is O(distinct word types), not O(corpus) — the
    * production trainers (HF tokenizers, SentencePiece, GPT-2's
    * encoder) all collect the type-frequency table and train in
    * memory. Under the cap the trajectory is EXACTLY full training
    * (every type collected); above it, training runs on the
    * top-[[BpeMaxTrainTypes]] types by (count, word) — a deterministic
    * bounded sample, the posture VERDICT r15 #1 prescribes for a real
    * 32k vocabulary. The tail types a cap drops are the rarest; their
    * pair mass is the long tail a 32k-merge greedy never reaches. */
  val BpeMaxTrainTypes: Int = 1 << 20

  /** Vocabulary-scale BPE training: ONE distributed pass (the word-type
    * frequency aggregate — the only corpus scan), then the classic
    * in-memory greedy trainer with INCREMENTAL pair-count maintenance
    * on the bounded type table. Per merge: only the words containing
    * the merged pair update their adjacency counts (a lazy-invalidation
    * heap orders candidates), so 32k merges cost minutes driver-side
    * instead of 32k sequential Spark jobs — the driver-loop ceiling
    * VERDICT r15 flagged. Trajectory-equivalence with the distributed
    * loop (and the reference trainer) is spec-gated (BpeSpec). */
  private[graft] def trainBpeDriver(s: SparkSession, dir: String,
      maxMerges: Int): Seq[(Long, String, String, Long)] = {
    val types = Tables.load(s, dir, "documents")
      .select(explode(bpeTokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w").asc)
      .limit(BpeMaxTrainTypes)
      .collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    fastBpe(types, maxMerges)
  }

  /** The in-memory exact greedy BPE trainer over a (word, count) type
    * table. Selection counts OVERLAPPING adjacencies (the Spark loop's
    * explode semantics: "aaaa" holds three (a,a) positions) while
    * application merges greedy left-to-right NON-overlapping (SQL
    * `replace`'s contract) — both exactly [[trainBpeLoop]]'s math, so
    * the recorded (rank, lhs, rhs, freq) rows are identical. Ties break
    * (freq desc, lhs asc, rhs asc) like the distributed orderBy. */
  private[graft] def fastBpe(types: Seq[(String, Long)],
      maxMerges: Int): Seq[(Long, String, String, Long)] = {
    import scala.collection.mutable
    // symbols are CODEPOINTS, not UTF-16 code units: the distributed
    // loop splits per codepoint (Java regex `(.)` matches code points),
    // as do the serving encoder and the DuckDB replay — a char-level
    // split would hand a supplementary character (emoji) to the trainer
    // as two lone surrogates, a trajectory the codepoint-wrapped
    // serving encoding can never match (ADVICE r16)
    val words = types.map { case (w, c) =>
      val cps = w.codePoints().toArray
        .map(cp => new String(Character.toChars(cp)))
      (mutable.ArrayBuffer(cps.toIndexedSeq: _*), c)
    }.toIndexedSeq
    val counts = mutable.HashMap.empty[(String, String), Long]
    // word indices that EVER contained a pair (never shrunk — stale
    // entries are filtered by re-scanning the word on use)
    val where = mutable.HashMap.empty[(String, String), mutable.BitSet]
    def sweep(wi: Int, sign: Long, track: Boolean): Unit = {
      val (syms, c) = words(wi)
      var i = 0
      while (i < syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        val n = counts.getOrElse(p, 0L) + sign * c
        if (n == 0L) counts.remove(p) else counts.update(p, n)
        if (track) where.getOrElseUpdate(p, mutable.BitSet.empty) += wi
        i += 1
      }
    }
    words.indices.foreach(sweep(_, 1L, track = true))
    // lazy-invalidation heap: entries carry the count at push time and
    // are discarded on pop unless still current
    val heap = new java.util.PriorityQueue[(Long, String, String)](
      math.max(1, counts.size),
      (a: (Long, String, String), b: (Long, String, String)) => {
        val byN = java.lang.Long.compare(b._1, a._1)
        if (byN != 0) byN
        else {
          val by1 = a._2.compareTo(b._2)
          if (by1 != 0) by1 else a._3.compareTo(b._3)
        }
      })
    counts.foreach { case ((s1, s2), n) => heap.add((n, s1, s2)): Unit }
    val out = mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var done = false
    while (out.size < maxMerges && !done) {
      var top: (Long, String, String) = null
      while (top == null && !heap.isEmpty) {
        val c = heap.poll()
        if (counts.getOrElse((c._2, c._3), 0L) == c._1) top = c
      }
      if (top == null) done = true
      else {
        val (n, s1, s2) = top
        out += (((out.size + 1).toLong, s1, s2, n))
        val touched = mutable.HashSet.empty[(String, String)]
        val affected = where.getOrElse((s1, s2), mutable.BitSet.empty).toSeq
        affected.foreach { wi =>
          val syms = words(wi)._1
          // stale `where` entry: the word may no longer hold the pair
          var holds = false
          var i = 0
          while (!holds && i < syms.length - 1) {
            holds = syms(i) == s1 && syms(i + 1) == s2
            i += 1
          }
          if (holds) {
            var j = 0
            while (j < syms.length - 1) {
              touched += ((syms(j), syms(j + 1))); j += 1
            }
            sweep(wi, -1L, track = false)
            // greedy left-to-right non-overlapping merge
            j = 0
            while (j < syms.length - 1) {
              if (syms(j) == s1 && syms(j + 1) == s2) {
                syms(j) = s1 + s2
                syms.remove(j + 1): Unit
              }
              j += 1
            }
            sweep(wi, 1L, track = true)
            j = 0
            while (j < syms.length - 1) {
              touched += ((syms(j), syms(j + 1))); j += 1
            }
          }
        }
        touched.foreach { p =>
          val c = counts.getOrElse(p, 0L)
          if (c > 0L) heap.add((c, p._1, p._2)): Unit
        }
      }
    }
    out.toSeq
  }

  /** How many non-interacting merges one training round may apply.
    * VERDICT r15 #1: one Spark round per merge cannot reach a real 32k
    * vocabulary (32k sequential jobs, driver-bound by construction);
    * k-batched greedy keeps the EXACT k=1 trajectory (proof sketch in
    * [[trainBpeLoop]]) while cutting rounds ~k-fold. */
  val BpeBatchK = 8

  /** The batched merge loop; returns (ordered merge table, rounds run).
    *
    * Each round ranks the pair counts once and applies a PREFIX of that
    * ranking — candidates accepted while (a) pairwise symbol-DISJOINT
    * from every already-accepted merge this round and (b) strictly
    * above the count ceiling `S` = the first (highest-count) skipped
    * pair that SHARES a symbol with an accepted merge. This reproduces
    * the one-merge-at-a-time trajectory exactly:
    *  - a merge only changes the counts of pairs sharing one of its
    *    symbols, so every accepted candidate's count is still exact
    *    when its turn comes;
    *  - any pair CREATED by an accepted merge (x, ab) is bounded by a
    *    parent pair (x, a)/(b, y) that shares a symbol with it — and
    *    every such sharing pair ranks below the last accepted candidate
    *    (the scan stops at the first one), so created pairs count <= S
    *    < every accepted count: they cannot outrank the batch, even on
    *    ties (the bound is strict);
    *  - non-sharing pairs keep both their counts and their tiebreak
    *    order below the accepted prefix.
    * Disjoint `replace`s cannot interfere textually (patterns match
    * complete `|`-wrapped symbols), so the batch applies as one fused
    * k-deep narrow projection — ONE Spark job per round. When the list
    * may be truncated (collected == limit), S falls back to the last
    * collected count — conservative, never wrong. A round always
    * applies at least the top-1 merge, so progress matches k=1 in the
    * worst (fully interacting) case. */
  private[graft] def trainBpeLoop(s: SparkSession, dir: String, maxMerges: Int,
      kBatch: Int): (Seq[(Long, String, String, Long)], Int) = {
    import org.apache.spark.storage.StorageLevel
    val words = Tables.load(s, dir, "documents")
      .select(explode(bpeTokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(regexp_replace(col("w"), "(.)", "|$1|").as("enc"), col("cnt"))
    var cur = words.persist(StorageLevel.MEMORY_AND_DISK)
    var prev: DataFrame = null
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var rounds = 0
    try {
      var exhausted = false
      while (out.size < maxMerges && !exhausted) {
        val sy = split(col("enc").substr(lit(2), length(col("enc")) - 2), "\\|\\|")
        val pairs = cur.select(col("cnt"), sy.as("sy"))
          // guard BEFORE sequence(): size-2 would go negative on 1-symbol
          // words and sequence(0,-1) is DESCENDING, not empty
          .where(size(col("sy")) >= 2)
          .select(col("cnt"), explode(transform(
            sequence(lit(0), size(col("sy")) - 2),
            i => struct(col("sy")(i).as("s1"), col("sy")(i + 1).as("s2")))).as("p"))
          .select(col("cnt"), col("p.s1").as("s1"), col("p.s2").as("s2"))
          .groupBy("s1", "s2").agg(sum("cnt").as("n"))
        val lim = math.max(4 * kBatch, 64)
        val ranked = pairs.orderBy(col("n").desc, col("s1").asc, col("s2").asc)
          .limit(lim).collect()
        if (ranked.isEmpty) exhausted = true // every word is one symbol
        else {
          rounds += 1
          val cap = math.min(kBatch, maxMerges - out.size)
          val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
          val symbols = scala.collection.mutable.HashSet.empty[String]
          // ceiling for merge-created pairs: first sharing pair's count,
          // or the truncation floor when the list may continue below
          var ceil = if (ranked.length == lim) ranked.last.getAs[Long]("n") else Long.MinValue
          var i = 0
          var stopped = false
          while (i < ranked.length && !stopped) {
            val (p1, p2, n) = (ranked(i).getAs[String]("s1"),
              ranked(i).getAs[String]("s2"), ranked(i).getAs[Long]("n"))
            if (symbols(p1) || symbols(p2)) {
              ceil = math.max(ceil, n) // first sharing pair: scan order => max
              stopped = true
            } else if (accepted.size < cap) {
              accepted += ((p1, p2, n))
              symbols += p1
              symbols += p2
            }
            i += 1
          }
          // strict guard: drop accepted tail at or below the ceiling
          while (accepted.nonEmpty && accepted.last._3 <= ceil)
            accepted.remove(accepted.size - 1): Unit
          // progress guarantee: the global top-1 is always trajectory-exact
          if (accepted.isEmpty) {
            val h = ranked.head
            accepted += ((h.getAs[String]("s1"), h.getAs[String]("s2"), h.getAs[Long]("n")))
          }
          accepted.foreach { case (p1, p2, n) =>
            out += (((out.size + 1).toLong, p1, p2, n))
          }
          // the collect above materialized cur, so the round before it
          // can release its blocks now
          if (prev != null) prev.unpersist(blocking = false)
          prev = cur
          val enc2 = accepted.foldLeft(col("enc")) { case (acc, (p1, p2, _)) =>
            replace(acc, lit("|" + p1 + "||" + p2 + "|"), lit("|" + p1 + p2 + "|"))
          }
          val next = cur.select(enc2.as("enc"), col("cnt"))
          // truncate lineage on a cadence (the CC-loop posture): the
          // cumulative plan otherwise deepens by k replaces + one cache
          // layer per round, and ANALYSIS cost over a 32k-merge run
          // grows quadratically even though execution reads the cache.
          // A truncated round skips the extra persist — the checkpoint
          // itself caches its partitions.
          cur =
            if (rounds % 8 == 0) Checkpoints.truncate(next)
            else next.persist(StorageLevel.MEMORY_AND_DISK)
        }
      }
    } finally {
      if (prev != null) prev.unpersist(blocking = false)
      cur.unpersist(blocking = false)
    }
    (out.toSeq, rounds)
  }

  /** BPE vocabulary training: the ordered k-round merge table
    * (rank, lhs, rhs, pair frequency at merge time) — the model artifact
    * a tokenizer trainer emits. The result is a k-row LOCAL relation
    * (bounded, like the k-means centroid hand-off); the training itself
    * is distributed (see [[trainBpe]]). */
  def txtBpeVocab(s: SparkSession, dir: String): DataFrame = {
    val merges = trainedMerges(s, dir)
    import s.implicits._
    merges.toDF("merge_rank", "lhs", "rhs", "freq").orderBy("merge_rank")
  }

  /** The trained merge chain as ONE nested expression over a `|`-wrapped
    * word: `regexp_replace` wraps every char, then each merge in RANK
    * ORDER is a literal `replace` — greedy left-to-right non-overlapping,
    * the exact training-time semantics ([[trainBpe]]). k merges = k
    * narrow string ops; the "model" rides in the plan as literals, the
    * broadcast-a-tiny-table pattern collapsed to codegen. */
  private[operators] def applyMerges(merges: Seq[(Long, String, String, Long)], w: Column): Column =
    merges.foldLeft(regexp_replace(w, "(.)", "|$1|")) { case (acc, (_, s1, s2, _)) =>
      replace(acc, lit("|" + s1 + "||" + s2 + "|"), lit("|" + s1 + s2 + "|"))
    }

  /** Persist a trained merge table as a parquet model artifact (the
    * [[Similarity.saveCentroids]] hand-off posture: train once, serve
    * from the saved model in later sessions / on the serving cluster). */
  def saveMerges(s: SparkSession, merges: Seq[(Long, String, String, Long)], path: String): Unit = {
    import s.implicits._
    merges.toDF("merge_rank", "lhs", "rhs", "freq")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Reload a merge table written by [[saveMerges]], in rank order. */
  def loadMerges(s: SparkSession, path: String): Seq[(Long, String, String, Long)] =
    s.read.parquet(path).orderBy("merge_rank").collect().toIndexedSeq
      .map(r => (r.getAs[Long]("merge_rank"), r.getAs[String]("lhs"),
        r.getAs[String]("rhs"), r.getAs[Long]("freq")))

  /** Per-document BPE token counts `(doc_id, n_words, n_chars, n_bpe)`
    * — the relation [[txtBpeEncode]] presents and
    * [[graft.operators.Pipeline]]'s BPE-budgeted packing consumes.
    *
    * Encode-over-TYPES: the k-deep merge chain ([[applyMerges]]) runs
    * once per DISTINCT word (the trainer's own O(vocabulary) weighting,
    * [[txtBpeFreq]]'s posture), never per occurrence — at 100 TB the
    * chain CPU is bounded by the vocabulary while the corpus pays two
    * tokenize scans (the dictionary branch prunes to the text column
    * alone and pre-aggregates map-side, so its exchange carries only
    * distinct words). The dictionary joins back shuffle-hash — it is
    * O(distinct words), fact-derived, and must never broadcast — and
    * the per-doc rollup partial-aggregates map-side before the final
    * O(docs) exchange.
    * `explode_outer` keeps zero-token documents through the left join
    * (their counts coalesce to 0, `chars_per_token` stays null). */
  private[operators] def bpeDocCounts(s: SparkSession, dir: String): DataFrame = {
    val merges = trainedMerges(s, dir)
    val toks = Tables.load(s, dir, "documents")
      .select(col("doc_id"), explode_outer(bpeTokens(col("text"))).as("w"))
    val dict = toks.groupBy("w").agg(count(lit(1)).as("occ"))
      .where(col("w").isNotNull)
      .select(col("w"), {
        val enc = applyMerges(merges, col("w"))
        size(split(enc.substr(lit(2), length(enc) - 2), "\\|\\|"))
          .cast("bigint").as("w_bpe")
      })
    toks.join(dict.hint("shuffle_hash"), Seq("w"), "left")
      .groupBy("doc_id")
      .agg(count(col("w")).as("n_words"),
        coalesce(sum(length(col("w")).cast("long")), lit(0L)).as("n_chars"),
        coalesce(sum(col("w_bpe")), lit(0L)).as("n_bpe"))
  }

  /** BPE encode (the tokenizer's SERVING pass): each document tokenized
    * with the trained merge table — per-doc word / char / BPE-token
    * counts and the resulting compression (chars per BPE token), the
    * statistics a packing pipeline ([[Pipeline]] pipe_pack) budgets
    * with. Served from [[bpeDocCounts]]: the merge chain costs
    * O(distinct words), not O(corpus). */
  def txtBpeEncode(s: SparkSession, dir: String): DataFrame =
    bpeDocCounts(s, dir)
      .select(col("doc_id"), col("n_words"), col("n_chars"), col("n_bpe"),
        when(col("n_bpe") > 0,
          col("n_chars").cast("double") / col("n_bpe").cast("double")).as("chars_per_token"))
      .orderBy("doc_id")

  /** Corpus BPE token frequencies (top-30): the token-distribution
    * relation a vocab-coverage gate consumes. Encoding runs over word
    * TYPES (the trainer's weighting), so the k-replace chain costs
    * O(distinct words), not O(corpus); the symbol explode + partial agg
    * shuffles O(distinct symbols) and the head is a
    * TakeOrderedAndProject. */
  def txtBpeFreq(s: SparkSession, dir: String): DataFrame = {
    val merges = trainedMerges(s, dir)
    val words = Tables.load(s, dir, "documents")
      .select(explode(bpeTokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val encoded = words.select(col("cnt"), applyMerges(merges, col("w")).as("enc"))
    encoded.select(col("cnt"),
      explode(split(col("enc").substr(lit(2), length(col("enc")) - 2), "\\|\\|"))
        .as("bpe_token"))
      .groupBy("bpe_token").agg(sum("cnt").as("n"))
      .orderBy(col("n").desc, col("bpe_token"))
      .limit(30)
  }

  /** The DuckDB replay of [[trainBpe]]: k generated CTE stages, each
    * (pair counts over the previous round's encodings) -> (best pair by
    * the same total order) -> (replace-merge). MATERIALIZED is load-
    * bearing: round N references round N-1 five times (the scalar
    * subqueries), so inlined CTEs would expand 5^k scans. */
  private def bpeOracle: String = {
    val base =
      s"""WITH w0 AS MATERIALIZED (
         |  SELECT regexp_replace(w, '(.)', '|\\1|', 'g') AS enc,
         |         CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM (SELECT unnest($BpeTokensSql) AS w
         |        FROM documents)
         |  GROUP BY 1),
         |r0 AS MATERIALIZED (SELECT enc, cnt FROM w0)""".stripMargin
    val stages = (1 to BpeRounds).map { r =>
      s""",
         |p$r AS MATERIALIZED (
         |  SELECT p.s1 AS s1, p.s2 AS s2, CAST(SUM(cnt) AS BIGINT) AS n FROM (
         |    SELECT cnt, unnest(list_transform(range(1, len(sy)),
         |        i -> {'s1': sy[i], 's2': sy[i + 1]})) AS p
         |    FROM (SELECT cnt, string_split(substring(enc, 2, length(enc) - 2), '||') AS sy
         |          FROM r${r - 1}))
         |  GROUP BY 1, 2),
         |b$r AS MATERIALIZED (SELECT s1, s2, n FROM p$r ORDER BY n DESC, s1, s2 LIMIT 1),
         |r$r AS MATERIALIZED (SELECT replace(enc,
         |    '|' || (SELECT s1 FROM b$r) || '||' || (SELECT s2 FROM b$r) || '|',
         |    '|' || (SELECT s1 FROM b$r) || (SELECT s2 FROM b$r) || '|') AS enc, cnt
         |  FROM r${r - 1})""".stripMargin
    }.mkString
    val heads = (1 to BpeRounds).map(r =>
      s"SELECT CAST($r AS BIGINT) AS merge_rank, s1 AS lhs, s2 AS rhs, n AS freq FROM b$r")
      .mkString("\nUNION ALL\n")
    base + stages + "\n" + heads + "\nORDER BY merge_rank"
  }

  /** SQL string literal escape (single quotes doubled) for trained
    * merge symbols embedded in generated oracle SQL. */
  private def sqlLit(v: String): String = v.replace("'", "''")

  /** The oracle-side twin of [[applyMerges]]: the same rank-ordered
    * nested replace chain over `|`-wrapped chars, with the TRAINED
    * merges as string literals (the [[Similarity]] trained-literal
    * posture — only trained VALUES cross engines, never engine math). */
  private[operators] def mergeChainSql(w: String, merges: Seq[(Long, String, String, Long)]): String =
    merges.foldLeft(s"regexp_replace($w, '(.)', '|\\1|', 'g')") { case (acc, (_, s1, s2, _)) =>
      val a = sqlLit(s1); val b = sqlLit(s2)
      s"replace($acc, '|$a||$b|', '|$a$b|')"
    }

  private def bpeEncodeSql(merges: Seq[(Long, String, String, Long)]): String =
    s"""WITH t AS (
       |  SELECT doc_id, $BpeTokensSql AS tk FROM documents),
       |e AS (
       |  SELECT doc_id, tk,
       |    list_transform(tk, w -> ${mergeChainSql("w", merges)}) AS enc
       |  FROM t),
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(tk) AS BIGINT) AS n_words,
       |    CAST(list_reduce(list_prepend(0, list_transform(tk, w -> len(w))),
       |                     (a, b) -> a + b) AS BIGINT) AS n_chars,
       |    CAST(list_reduce(list_prepend(0, list_transform(enc,
       |           s -> len(string_split(substring(s, 2, length(s) - 2), '||')))),
       |                     (a, b) -> a + b) AS BIGINT) AS n_bpe
       |  FROM e)
       |SELECT doc_id, n_words, n_chars, n_bpe,
       |  CASE WHEN n_bpe > 0
       |    THEN CAST(n_chars AS DOUBLE) / CAST(n_bpe AS DOUBLE) END AS chars_per_token
       |FROM m ORDER BY doc_id""".stripMargin

  private def bpeFreqSql(merges: Seq[(Long, String, String, Long)]): String =
    s"""WITH w AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
       |    SELECT unnest($BpeTokensSql) AS w FROM documents)
       |  GROUP BY 1),
       |e AS (SELECT cnt, ${mergeChainSql("w", merges)} AS enc FROM w),
       |s AS (SELECT cnt,
       |        unnest(string_split(substring(enc, 2, length(enc) - 2), '||')) AS bpe_token
       |      FROM e)
       |SELECT bpe_token, CAST(SUM(cnt) AS BIGINT) AS n
       |FROM s GROUP BY 1 ORDER BY n DESC, bpe_token LIMIT 30""".stripMargin

  /** The trained merges available to SIBLING operators' generated
    * oracles ([[Pipeline]]'s BPE-budgeted packing) — same
    * after-training contract as [[oracles]]. */
  private[operators] def oracleMerges: Option[Seq[(Long, String, String, Long)]] =
    dirForOracles.flatMap(mergesByDir.get)

  /** Oracle-side twin of [[bpeDocCounts]]'s `(doc_id, n_bpe)` face, for
    * composition into sibling operators' generated SQL: per-doc BPE
    * token count under the trained merge chain. */
  private[operators] def bpeDocTokensSql(merges: Seq[(Long, String, String, Long)]): String =
    s"""SELECT doc_id,
       |  CAST(list_reduce(list_prepend(0, list_transform(
       |         list_transform($BpeTokensSql, w -> ${mergeChainSql("w", merges)}),
       |         s -> len(string_split(substring(s, 2, length(s) - 2), '||')))),
       |       (a, b) -> a + b) AS BIGINT) AS n_bpe
       |FROM documents""".stripMargin

  /** `def`, not `val`: the txt_bpe_encode/txt_bpe_freq oracles exist
    * only after their queries have trained (Verify runs every query
    * BEFORE dumping oracle_sql.json — the [[Similarity.oracles]]
    * contract). */
  // ---- SentencePiece unigram-LM tokenizer (Kudo 2018) ----

  /** Final cap on MULTI-codepoint pieces (single codepoints are always
    * kept — the segmentation fallback, like SentencePiece's
    * required_chars). */
  val SpTargetMulti: Int = 192
  /** Longest candidate piece, in codepoints. */
  val SpMaxPieceLen: Int = 6
  /** Seed candidate pool cap (top substrings by corpus mass). */
  val SpSeedSize: Int = 1024
  /** Micro-nat score of a single codepoint ABSENT from the trained
    * vocabulary (serve-time OOV): far below every trained piece, so an
    * unknown character segments alone and the DP never dead-ends. */
  val SpUnkQ: Long = -30000000L

  /** One trained unigram piece: surface, probability, micro-nat score
    * floor(1e6·ln p) — ln evaluated DRIVER-side only (the txt_lm_score
    * quantization discipline: no transcendental crosses engines). */
  private[graft] final case class SpPiece(piece: String, p: Double, q: Long)

  /** SentencePiece unigram-LM tokenizer TRAINING (Kudo 2018 §3.2 /
    * SentencePiece's unigram trainer) on the [[fastBpe]] word-type
    * posture — BPE's production sibling: instead of greedy merges, a
    * vocabulary of candidate pieces is fit as a unigram language model
    * by EM and PRUNED until the target size.
    *
    * - Seed: every substring of every word type up to [[SpMaxPieceLen]]
    *   codepoints (codepoint discipline — ADVICE r16), weighted by
    *   corpus frequency; multi-codepoint candidates capped at the
    *   top-[[SpSeedSize]] by (mass desc, piece asc); ALL single
    *   codepoints kept and never pruned.
    * - EM rounds: the E-step computes EXPECTED piece counts over ALL
    *   segmentations of every type by forward-backward in log space
    *   (the real soft-EM recipe, not a Viterbi-hard shortcut — the
    *   spec checks it against brute-force segmentation enumeration);
    *   the M-step re-estimates p(piece) with add-half smoothing.
    * - Prune: after each 2-iteration EM round, the lowest fifth of the
    *   multi-codepoint pieces by (expected count asc, piece asc) drops
    *   (SentencePiece's shrinking_factor posture with expected-count
    *   ranking standing in for its leave-one-out likelihood loss),
    *   until the multi set fits `targetMulti`; two polish iterations
    *   finish.
    *
    * Determinism: every reduction runs in a FIXED order (types in
    * their given order, vocabulary sorted) so identical type tables
    * give identical doubles, hence identical quantized scores. Scale:
    * driver cost is O(types · wordLen · maxLen) per iteration over the
    * BOUNDED type table — the one corpus pass is the distributed
    * word-type aggregate ([[trainBpeDriver]]'s posture). */
  /** The soft-EM E-step: EXPECTED piece counts over ALL segmentations
    * of every word type, by forward-backward in log space. Exposed for
    * the spec's brute-force-enumeration check (SpUnigramSpec). Sums run
    * in fixed (types order, position order) sequence — deterministic. */
  private[graft] def spEStep(words: Seq[(Array[Int], Long)], vocab: Vector[String],
      probs: Map[String, Double]): scala.collection.mutable.HashMap[String, Double] = {
    import scala.collection.mutable
    val NegInf = Double.NegativeInfinity
    def lse(a: Double, b: Double): Double =
      if (a == NegInf) b else if (b == NegInf) a
      else { val m = math.max(a, b); m + math.log(math.exp(a - m) + math.exp(b - m)) }
    val logp = mutable.HashMap.empty[String, Double]
    vocab.foreach(p => logp.update(p, math.log(probs(p))))
    val exp = mutable.HashMap.empty[String, Double]
    for ((cps, c) <- words) {
      val n = cps.length
      val alpha = Array.fill(n + 1)(NegInf); alpha(0) = 0.0
      for (i <- 1 to n; len <- 1 to math.min(SpMaxPieceLen, i)) {
        logp.get(new String(cps, i - len, len)).foreach { lp =>
          if (alpha(i - len) != NegInf)
            alpha(i) = lse(alpha(i), alpha(i - len) + lp)
        }
      }
      val beta = Array.fill(n + 1)(NegInf); beta(n) = 0.0
      for (j <- (0 until n).reverse; len <- 1 to math.min(SpMaxPieceLen, n - j)) {
        logp.get(new String(cps, j, len)).foreach { lp =>
          if (beta(j + len) != NegInf)
            beta(j) = lse(beta(j), lp + beta(j + len))
        }
      }
      val z = alpha(n)
      if (z != NegInf) {
        for (j <- 0 until n; len <- 1 to math.min(SpMaxPieceLen, n - j)) {
          val piece = new String(cps, j, len)
          logp.get(piece).foreach { lp =>
            if (alpha(j) != NegInf && beta(j + len) != NegInf) {
              val post = alpha(j) + lp + beta(j + len) - z
              // deterministic underflow guard (exp(-745) == 0.0 anyway)
              if (post > -745.0)
                exp.update(piece, exp.getOrElse(piece, 0.0) + c * math.exp(post))
            }
          }
        }
      }
    }
    exp
  }

  private[graft] def trainUnigram(types: Seq[(String, Long)],
      targetMulti: Int = SpTargetMulti): Seq[SpPiece] = {
    import scala.collection.mutable
    val words = types.map { case (w, c) => (w.codePoints().toArray, c) }
    val seedCounts = mutable.HashMap.empty[String, Double]
    for ((cps, c) <- words; i <- cps.indices;
         len <- 1 to math.min(SpMaxPieceLen, cps.length - i)) {
      val sub = new String(cps, i, len)
      seedCounts.update(sub, seedCounts.getOrElse(sub, 0.0) + c.toDouble)
    }
    def isSingle(p: String): Boolean = p.codePointCount(0, p.length) == 1
    val singles = seedCounts.keys.filter(isSingle).toVector.sorted
    val multis0 = seedCounts.keys.filterNot(isSingle).toVector
      .sortBy(p => (-seedCounts(p), p)).take(SpSeedSize)
    var vocab: Vector[String] = (singles ++ multis0).sorted
    var probs: Map[String, Double] = {
      val tot = vocab.iterator.map(seedCounts).sum
      vocab.iterator.map(p => p -> seedCounts(p) / tot).toMap
    }
    /** One soft-EM iteration over the type table ([[spEStep]] +
      * add-half M-step); returns the expected counts. */
    def emStep(): collection.Map[String, Double] = {
      val exp = spEStep(words, vocab, probs)
      val tot = vocab.iterator.map(p => exp.getOrElse(p, 0.0)).sum + 0.5 * vocab.size
      probs = vocab.iterator.map(p => p -> (exp.getOrElse(p, 0.0) + 0.5) / tot).toMap
      exp
    }
    var nMulti = vocab.count(p => !isSingle(p))
    while (nMulti > targetMulti) {
      emStep()
      val exp = emStep()
      val multis = vocab.filterNot(isSingle)
      val drop = math.min(multis.size - targetMulti, math.max(1, multis.size / 5))
      val victims = multis.sortBy(p => (exp.getOrElse(p, 0.0), p)).take(drop).toSet
      vocab = vocab.filterNot(victims)
      val tot = vocab.iterator.map(probs).sum
      probs = vocab.iterator.map(p => p -> probs(p) / tot).toMap
      nMulti = vocab.count(p => !isSingle(p))
    }
    emStep(); emStep()
    vocab.map(p => SpPiece(p, probs(p), math.floor(1e6 * math.log(probs(p))).toLong))
  }

  /** Trained unigram models, memoized like [[bpeCache]]; the per-dir
    * maps feed the trained-literal oracles. `spWordsByDir` additionally
    * carries the driver Viterbi segmentation of every collected word
    * TYPE — the bounded artifact the encode oracle joins against (total
    * over the test corpora; capped at [[BpeMaxTrainTypes]] like
    * training itself, a declared precondition of the oracle replay —
    * SERVING has no such bound, the kernel segments any word live). */
  private val spCache = new java.util.LinkedHashMap[
    (SparkSession, String), (String, Seq[SpPiece])](32, 0.75f, true)
  private val spByDir =
    scala.collection.concurrent.TrieMap.empty[String, Seq[SpPiece]]
  private val spWordsByDir =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(String, Long, Long, String)]]

  /** The trained word-type segmentation artifact available to SIBLING
    * operators' generated oracles ([[Pipeline]]'s sp-budgeted packing)
    * — same after-training contract as [[oracles]]. */
  private[operators] def oracleSpWords: Option[Seq[(String, Long, Long, String)]] =
    dirForOracles.flatMap(spWordsByDir.get)

  private def spModelMap(m: Seq[SpPiece]): java.util.HashMap[String, java.lang.Long] = {
    val h = new java.util.HashMap[String, java.lang.Long](m.size * 2)
    m.foreach(p => h.put(p.piece, java.lang.Long.valueOf(p.q)): Unit)
    h
  }

  private[graft] def trainedSp(s: SparkSession, dir: String): Seq[SpPiece] = {
    def fit(): Seq[SpPiece] = trainUnigram(spTrainTypes(s, dir))
    val m = Tables.fingerprint(s, dir, "documents") match {
      case None => fit() // unverifiable content: no memo
      case Some(fp) =>
        val key = (s, dir)
        (spCache.synchronized {
          if (spCache.size > 16) {
            val dead = spCache.keySet.iterator
            while (dead.hasNext) if (dead.next()._1.sparkContext.isStopped) dead.remove()
          }
          val lru = spCache.keySet.iterator
          while (spCache.size > 16 && lru.hasNext) {
            if (lru.next() != key) lru.remove()
          }
          Option(spCache.get(key))
        }) match {
          case Some((`fp`, mm)) => mm
          case _ =>
            val mm = fit()
            spCache.synchronized { spCache.put(key, (fp, mm)): Unit }
            mm
        }
    }
    spByDir.update(dir, m)
    // the encode/freq-oracle artifact: driver Viterbi over the word
    // types through the SAME spSegment/spPiecesEval the kernels call
    val h = spModelMap(m)
    val trainTypes = spTrainTypes(s, dir)
    // The oracle replay INNER-joins document words against this table;
    // serving segments every word live. If the corpus has more distinct
    // word types than the training cap, the joins would silently drop
    // the uncapped tail from ALL oracle counts — fail loudly instead of
    // emitting a diverging oracle (the cap is a training bound, never a
    // correctness bound).
    require(trainTypes.size < BpeMaxTrainTypes,
      s"sp oracle replay precondition violated: corpus distinct word-type " +
        s"count reached the BpeMaxTrainTypes cap ($BpeMaxTrainTypes); the " +
        s"capped type table cannot replay serving-side segmentation of " +
        s"out-of-table words — refusing to emit txt_sp_encode/txt_sp_freq " +
        s"oracles for $dir")
    spWordsByDir.update(dir, trainTypes.map { case (w, _) =>
      val r = org.apache.spark.sql.graftexpr.TextExpressions
        .spSegment(w, h, SpMaxPieceLen, SpUnkQ)
      val ps = org.apache.spark.sql.graftexpr.TextExpressions.spPiecesEval(
        org.apache.spark.unsafe.types.UTF8String.fromString(w), h, SpMaxPieceLen, SpUnkQ)
      // pieces are substrings of a whitespace token — space-free by
      // construction, so a space join round-trips through string_split
      val pcs = (0 until ps.numElements())
        .map(i => ps.getUTF8String(i).toString).mkString(" ")
      (w, r(0), r(1), pcs)
    })
    lastDirRef.set(dir)
    m
  }

  /** The one distributed pass of unigram training: the word-type
    * frequency table over the PLAIN whitespace tokens (no '|' carve-out
    * — unigram needs no delimiter encoding), top-[[BpeMaxTrainTypes]]
    * by (count, word). Memoized per (session, dir, fingerprint) via the
    * same collect the driver trainer reads. */
  private val spTypesCache = new java.util.LinkedHashMap[
    (SparkSession, String), (String, Seq[(String, Long)])](32, 0.75f, true)
  private def spTrainTypes(s: SparkSession, dir: String): Seq[(String, Long)] = {
    def run(): Seq[(String, Long)] = Tables.load(s, dir, "documents")
      .select(explode(org.apache.spark.sql.graftexpr.TextExpressions
        .wordNgrams(col("text"), 1)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w").asc)
      .limit(BpeMaxTrainTypes)
      .collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    Tables.fingerprint(s, dir, "documents") match {
      case None => run()
      case Some(fp) =>
        val key = (s, dir)
        (spTypesCache.synchronized {
          val lru = spTypesCache.keySet.iterator
          while (spTypesCache.size > 16 && lru.hasNext) {
            if (lru.next() != key) lru.remove()
          }
          Option(spTypesCache.get(key))
        }) match {
          case Some((`fp`, t)) => t
          case _ =>
            val t = run()
            spTypesCache.synchronized { spTypesCache.put(key, (fp, t)): Unit }
            t
        }
    }
  }

  /** The TRAINED unigram piece table (piece, micro-nat score) — the
    * model artifact a serving stack ships (txt_bpe_vocab's sibling for
    * the SentencePiece-unigram recipe). Oracle = round-trip-exact
    * trained literals (the arr_svd_vals posture; the ln quantization
    * never evaluates in either engine). */
  def txtSpUnigram(s: SparkSession, dir: String): DataFrame = {
    val m = trainedSp(s, dir)
    import s.implicits._
    m.map(p => (p.piece, p.q)).toDF("piece", "qlogp").orderBy("piece")
  }

  /** Unigram tokenizer SERVING — per document word/codepoint/piece
    * counts + the total micro-nat score, through ONE narrow codegen'd
    * kernel pass ([[org.apache.spark.sql.graftexpr.UnigramStats]]): the
    * bounded PIECE table rides the plan as expression state and every
    * word Viterbi-segments live (word types are never enumerated at
    * serve time — the only posture that survives 100 TB, where the
    * piece table is bounded and the word-type table is not). Oracle:
    * per-word-TYPE (count, score) literals from the driver's own
    * segmentation of the training type table (total over the test
    * corpora), joined against the replayed tokenization. */
  def txtSpEncode(s: SparkSession, dir: String): DataFrame = {
    val m = trainedSp(s, dir)
    val st = org.apache.spark.sql.graftexpr.TextExpressions
      .unigramStats(col("text"), m.map(p => (p.piece, p.q)), SpMaxPieceLen, SpUnkQ)
    Tables.load(s, dir, "documents")
      .transform(Present.spreadSorted("doc_id"))
      .select(col("doc_id"), st.as("st"))
      .select(col("doc_id"),
        element_at(col("st"), 1).as("n_words"),
        element_at(col("st"), 2).as("n_wcps"),
        element_at(col("st"), 3).as("n_pieces"),
        element_at(col("st"), 4).as("qscore_sum"))
  }

  /** Corpus unigram piece distribution (top-30) — txt_bpe_freq's twin
    * for the unigram tokenizer: the per-word Viterbi DP runs over word
    * TYPES (O(vocabulary) kernel calls, never per occurrence — the
    * encode-over-types posture), piece explode + map-side partial agg
    * shuffles O(distinct pieces) (bounded by the trained vocabulary +
    * seen codepoints), TakeOrderedAndProject head. The relation a
    * vocab-coverage gate or a sampling-temperature fit consumes. */
  def txtSpFreq(s: SparkSession, dir: String): DataFrame = {
    val m = trainedSp(s, dir)
    val lits = m.map(p => (p.piece, p.q))
    Tables.load(s, dir, "documents")
      .select(explode(org.apache.spark.sql.graftexpr.TextExpressions
        .wordNgrams(col("text"), 1)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(explode(org.apache.spark.sql.graftexpr.TextExpressions
        .unigramPieces(col("w"), lits, SpMaxPieceLen, SpUnkQ)).as("piece"),
        col("cnt"))
      .groupBy("piece").agg(sum(col("cnt")).as("n"))
      .orderBy(col("n").desc, col("piece").asc)
      .limit(30)
  }

  /** Per-doc `(doc_id, n_sp)` unigram token counts for composition into
    * sibling operators ([[Pipeline]]'s sp-budgeted packing) — the
    * [[txtSpEncode]] kernel without the presentation columns. */
  private[operators] def spDocCounts(s: SparkSession, dir: String): DataFrame = {
    val m = trainedSp(s, dir)
    val st = org.apache.spark.sql.graftexpr.TextExpressions
      .unigramStats(col("text"), m.map(p => (p.piece, p.q)), SpMaxPieceLen, SpUnkQ)
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), element_at(st, 3).as("n_sp"))
  }

  /** Oracle-side twin of [[spDocCounts]] — per-doc unigram token counts
    * from the per-word-TYPE literals, as a plain SELECT (no WITH) so
    * sibling oracles can embed it as a CTE body. */
  private[operators] def spDocTokensSql(ws: Seq[(String, Long, Long, String)]): String = {
    val rows = ws
      .map { case (w, np, _, _) => s"('${sqlLit(w)}', CAST($np AS BIGINT))" }
      .mkString(", ")
    s"""SELECT d.doc_id, CAST(COALESCE(j.np, 0) AS BIGINT) AS n_sp
       |FROM documents d LEFT JOIN (
       |  SELECT w.doc_id, SUM(m.np) AS np
       |  FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
       |                                          x -> len(x) > 0)) AS wo
       |        FROM documents) w
       |  JOIN (VALUES $rows) AS m(word, np) ON m.word = w.wo
       |  GROUP BY 1) j ON j.doc_id = d.doc_id""".stripMargin
  }

  private def spFreqSql(ws: Seq[(String, Long, Long, String)]): String = {
    val rows = ws
      .map { case (w, _, _, pcs) => s"('${sqlLit(w)}', '${sqlLit(pcs)}')" }
      .mkString(", ")
    s"""WITH m(word, pcs) AS (VALUES $rows),
       |t AS (SELECT unnest(list_filter(string_split(text, ' '),
       |                                x -> len(x) > 0)) AS wo FROM documents),
       |ty AS (SELECT wo, COUNT(*) AS c FROM t GROUP BY 1),
       |e AS (SELECT ty.c, unnest(string_split(m.pcs, ' ')) AS piece
       |      FROM ty JOIN m ON m.word = ty.wo)
       |SELECT piece, CAST(SUM(c) AS BIGINT) AS n
       |FROM e GROUP BY 1 ORDER BY n DESC, piece LIMIT 30""".stripMargin
  }

  private def spUnigramSql(m: Seq[SpPiece]): String = {
    val rows = m
      .map(p => s"('${sqlLit(p.piece)}', CAST(${p.q} AS BIGINT))")
      .mkString(", ")
    s"SELECT piece, qlogp FROM (VALUES $rows) AS t(piece, qlogp) ORDER BY piece"
  }

  private def spEncodeSql(ws: Seq[(String, Long, Long, String)]): String = {
    val rows = ws
      .map { case (w, np, qs, _) =>
        s"('${sqlLit(w)}', CAST($np AS BIGINT), CAST($qs AS BIGINT))"
      }
      .mkString(", ")
    s"""WITH m(word, np, qs) AS (VALUES $rows),
       |w AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
       |                                        x -> len(x) > 0)) AS wo
       |      FROM documents),
       |j AS (SELECT w.doc_id, COUNT(*) AS n_words,
       |        CAST(SUM(length(w.wo)) AS BIGINT) AS n_wcps,
       |        CAST(SUM(m.np) AS BIGINT) AS n_pieces,
       |        CAST(SUM(m.qs) AS BIGINT) AS qscore_sum
       |      FROM w JOIN m ON m.word = w.wo GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(COALESCE(j.n_words, 0) AS BIGINT) AS n_words,
       |  CAST(COALESCE(j.n_wcps, 0) AS BIGINT) AS n_wcps,
       |  CAST(COALESCE(j.n_pieces, 0) AS BIGINT) AS n_pieces,
       |  CAST(COALESCE(j.qscore_sum, 0) AS BIGINT) AS qscore_sum
       |FROM documents d LEFT JOIN j ON j.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  def oracles: Map[String, String] = staticOracles ++
    dirForOracles.flatMap(spByDir.get).map { m =>
      Map("txt_sp_unigram" -> spUnigramSql(m))
    }.getOrElse(Map.empty) ++
    dirForOracles.flatMap(spWordsByDir.get).map { ws =>
      Map("txt_sp_encode" -> spEncodeSql(ws), "txt_sp_freq" -> spFreqSql(ws))
    }.getOrElse(Map.empty) ++
    dirForOracles.flatMap(mergesByDir.get).map { m =>
      Map("txt_bpe_encode" -> bpeEncodeSql(m), "txt_bpe_freq" -> bpeFreqSql(m))
    }.getOrElse(Map.empty) ++
    dirForOracles.flatMap(clfByDir.get).map { case (w, b) =>
      Map("txt_classifier_score" -> clfScoreSql(w, b))
    }.getOrElse(Map.empty) ++
    dirForOracles.flatMap(lmByDir.get).map { m =>
      Map("txt_lm_score" -> lmScoreSql(m))
    }.getOrElse(Map.empty)

  /** DuckDB spelling of Spark's string `hash()` — Murmur3_x86_32, seed
    * 42, over the token's UTF-8 bytes (hex(encode(tok)) parsed
    * pairwise), replayed step-for-step: 4-byte LITTLE-ENDIAN words,
    * then each remaining tail byte SIGN-EXTENDED (Spark reads the tail
    * through a signed byte load — bytes >= 0x80 become 0xFFFFFFxx),
    * then the xor-with-length avalanche. All arithmetic is unsigned
    * mod 2^32 in BIGINT, with HUGEINT for the three multiplications
    * whose product can overflow int64; rotl(x, r) splits into the two
    * disjoint shifted halves. The unsigned result % buckets equals
    * Spark's pmod(signed_hash, buckets) because buckets divides 2^32
    * (enforced power-of-two). Emits the CTE chain from a
    * `t(doc_id, tok)` relation to `b(doc_id, bucket)`; bit-equivalence
    * against Spark's hash() is additionally spec-gated over the real
    * corpus (FunctionsSpec). */
  private def murmurBucketCtes(buckets: Int): String = {
    def mixK1(k: String) = {
      val a = s"(CAST((CAST(($k) AS HUGEINT) * 3432918353) % 4294967296 AS BIGINT))"
      val b = s"(($a * 32768) % 4294967296 + $a // 131072)"
      s"(($b * 461845907) % 4294967296)"
    }
    def mixH1(h: String, k1: String) = {
      val x = s"xor($h, $k1)"
      val r = s"(($x * 8192) % 4294967296 + $x // 524288)"
      s"(CAST((($r * 5 + 3864292196) % 4294967296) AS BIGINT))"
    }
    val step = mixH1("h1", mixK1("k"))
    s"""hx AS (SELECT doc_id, hex(encode(tok)) AS hx, octet_length(encode(tok)) AS n FROM t),
       |by_ AS (SELECT doc_id, n, list_transform(range(1, n+1),
       |  i -> CAST((instr('0123456789ABCDEF', substring(hx, CAST(2*i-1 AS INT), 1)) - 1) * 16
       |     + (instr('0123456789ABCDEF', substring(hx, CAST(2*i AS INT), 1)) - 1) AS BIGINT)) AS bs FROM hx),
       |wd AS (SELECT doc_id, n,
       |  list_transform(range(0, n // 4), w ->
       |    bs[CAST(4*w+1 AS INT)] + bs[CAST(4*w+2 AS INT)]*256 + bs[CAST(4*w+3 AS INT)]*65536 + bs[CAST(4*w+4 AS INT)]*16777216) ||
       |  list_transform(range(n - n % 4, n), i ->
       |    CASE WHEN bs[CAST(i+1 AS INT)] >= 128 THEN bs[CAST(i+1 AS INT)] + 4294967040 ELSE bs[CAST(i+1 AS INT)] END) AS ks FROM by_),
       |hh AS (SELECT doc_id, n, list_reduce(list_prepend(CAST(42 AS BIGINT), ks), (h1, k) -> $step) AS h1 FROM wd),
       |f1 AS (SELECT doc_id, CAST((CAST(xor(xor(h1, n), xor(h1, n) // 65536) AS HUGEINT) * 2246822507) % 4294967296 AS BIGINT) AS v FROM hh),
       |f2 AS (SELECT doc_id, CAST((CAST(xor(v, v // 8192) AS HUGEINT) * 3266489909) % 4294967296 AS BIGINT) AS v FROM f1),
       |b AS (SELECT doc_id, xor(v, v // 65536) % $buckets AS bucket FROM f2)""".stripMargin
  }

  private lazy val staticOracles: Map[String, String] = Map(
    "txt_bpe_vocab" -> bpeOracle,
    // metadata-only language mix; the fraction is an exact integer ratio
    "txt_langid_mix" ->
      """WITH m AS (
        |  SELECT source, lang, COUNT(*) AS n_docs
        |  FROM documents GROUP BY 1, 2),
        |t AS (SELECT source, SUM(n_docs) AS n_source FROM m GROUP BY 1)
        |SELECT m.source, m.lang, m.n_docs,
        |  CAST(m.n_docs AS DOUBLE) / CAST(t.n_source AS DOUBLE) AS frac
        |FROM m JOIN t ON t.source = m.source
        |ORDER BY 1, 2""".stripMargin,
    // per-lang length quantiles: quantile_disc == the
    // conditional-MIN-at-ceil(q*n) scaffold on integer lengths
    "txt_len_profile" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(MIN(n_chars) AS BIGINT) AS min_chars,
        |  CAST(quantile_disc(n_chars, 0.50) AS BIGINT) AS med_chars,
        |  CAST(quantile_disc(n_chars, 0.90) AS BIGINT) AS p90_chars,
        |  CAST(MAX(n_chars) AS BIGINT) AS max_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // real murmur3 on both sides: Spark's native hash() vs the
    // algorithm replayed in SQL over the identical UTF-8 bytes
    "txt_hash_tf" ->
      s"""WITH t AS (
         |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
         |                                    x -> len(x) > 0)) AS tok
         |  FROM documents),
         |${murmurBucketCtes(HashTfBuckets)}
         |SELECT CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n_tokens,
         |  COUNT(DISTINCT doc_id) AS n_docs
         |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    "txt_tfidf_top" ->
      s"""WITH t AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
        |                                    x -> len(x) > 0)) AS token
        |  FROM documents),
        |tq AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        |       FROM t GROUP BY 1, 2),
        |dq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tq
        |       GROUP BY 1 HAVING COUNT(*) >= $TfidfMinDf),
        |sc AS (SELECT tq.doc_id, tq.token, tq.tf, dq.df,
        |         CAST(tq.tf AS DOUBLE) / CAST(dq.df AS DOUBLE) AS score
        |       FROM tq JOIN dq USING (token)),
        |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |         ORDER BY score DESC, token) AS rn FROM sc)
        |SELECT doc_id, token, tf, df, score FROM rk WHERE rn <= 3
        |ORDER BY doc_id, score DESC, token""".stripMargin,
    "txt_docfreq" ->
      """WITH t AS (
        |  SELECT list_distinct(list_filter(string_split(text, ' '),
        |                                   x -> len(x) > 0)) AS tk
        |  FROM documents),
        |e AS (SELECT unnest(tk) AS token FROM t)
        |SELECT token, COUNT(*) AS df FROM e
        |GROUP BY token ORDER BY df DESC, token LIMIT 50""".stripMargin,
    "txt_ngram_top" ->
      """WITH t AS (
        |  SELECT list_filter(string_split(text, ' '), x -> len(x) > 0) AS tk
        |  FROM documents),
        |g AS (SELECT list_transform(range(1, len(tk)),
        |               i -> tk[i] || ' ' || tk[i + 1]) AS ngs
        |      FROM t WHERE len(tk) >= 2),
        |e AS (SELECT unnest(ngs) AS ngram FROM g)
        |SELECT ngram, COUNT(*) AS n FROM e
        |GROUP BY ngram ORDER BY n DESC, ngram LIMIT 20""".stripMargin,
    "txt_tokens" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_alpha_runs,
        |  CAST(length(text) AS BIGINT) AS n_chars_txt
        |FROM documents ORDER BY doc_id""".stripMargin,
    // corpus top-30 by (freq desc, word); rank window over the head only
    "txt_zipf_top" ->
      """WITH t AS (
        |  SELECT list_filter(string_split(text, ' '), x -> len(x) > 0) AS tk
        |  FROM documents),
        |e AS (SELECT unnest(tk) AS w FROM t),
        |f AS (SELECT w, COUNT(*) AS freq FROM e GROUP BY 1),
        |top AS (SELECT w, freq FROM f ORDER BY freq DESC, w LIMIT 30),
        |r AS (SELECT w, freq,
        |        ROW_NUMBER() OVER (ORDER BY freq DESC, w) AS rank,
        |        MAX(freq) OVER () AS f1
        |      FROM top)
        |SELECT rank, w, freq, rank * freq AS zipf_c,
        |  CAST(freq AS DOUBLE) / CAST(f1 AS DOUBLE) AS rel_freq
        |FROM r ORDER BY rank""".stripMargin,
    // same whitespace tokenization; per-doc word counts then the rollup,
    // TTR = the same exact integer ratio
    "txt_word_stats" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS tk
        |  FROM documents),
        |e AS (SELECT doc_id, unnest(tk) AS w FROM t),
        |wc AS (SELECT doc_id, w, COUNT(*) AS c FROM e GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  COUNT(*) AS n_distinct,
        |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |  CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS ttr
        |FROM wc GROUP BY 1 ORDER BY 1""".stripMargin,
    "txt_quality" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS tk
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(tk) AS DOUBLE) AS n_tok,
        |    CAST(len(list_filter(tk, x -> x IN ('the','a','and','of','to','in','is'))) AS DOUBLE) AS stop,
        |    CAST(list_reduce(list_prepend(0, list_transform(tk, x -> len(x))), (a, b) -> a + b) AS DOUBLE) AS char_sum
        |  FROM t)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
        |  stop / n_tok AS stop_ratio,
        |  char_sum / n_tok AS mean_tok_len,
        |  (stop / n_tok) * 0.3 + least(char_sum / n_tok / 10.0, 1.0) * 0.7 AS score
        |FROM m ORDER BY doc_id""".stripMargin,
    "txt_langid" ->
      """WITH t AS (
        |  SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> len(x) > 0) AS tk
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(tk, x -> x IN ('the','a','and','of','to','in','is'))) AS h_en,
        |    len(list_filter(tk, x -> x IN ('el','la','de','y','que','los'))) AS h_es,
        |    len(list_filter(tk, x -> x IN ('der','die','das','und','ist','ein'))) AS h_de,
        |    len(list_filter(tk, x -> x IN ('le','la','de','et','les','un'))) AS h_fr
        |  FROM t),
        |p AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN h_en >= greatest(h_es, h_de, h_fr) AND h_en > 0 THEN 'en'
        |         WHEN h_es >= greatest(h_de, h_fr) AND h_es > 0 THEN 'es'
        |         WHEN h_de >= h_fr AND h_de > 0 THEN 'de'
        |         WHEN h_fr > 0 THEN 'fr'
        |         ELSE 'und' END AS pred_lang
        |  FROM h)
        |SELECT doc_id, pred_lang, lang, pred_lang = lang AS is_match
        |FROM p ORDER BY doc_id""".stripMargin,
    // the txt_langid prediction CTE grouped to the (true, pred) matrix;
    // row shares are exact integer ratios
    "txt_langid_conf" ->
      """WITH t AS (
        |  SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> len(x) > 0) AS tk
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(tk, x -> x IN ('the','a','and','of','to','in','is'))) AS h_en,
        |    len(list_filter(tk, x -> x IN ('el','la','de','y','que','los'))) AS h_es,
        |    len(list_filter(tk, x -> x IN ('der','die','das','und','ist','ein'))) AS h_de,
        |    len(list_filter(tk, x -> x IN ('le','la','de','et','les','un'))) AS h_fr
        |  FROM t),
        |p AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN h_en >= greatest(h_es, h_de, h_fr) AND h_en > 0 THEN 'en'
        |         WHEN h_es >= greatest(h_de, h_fr) AND h_es > 0 THEN 'es'
        |         WHEN h_de >= h_fr AND h_de > 0 THEN 'de'
        |         WHEN h_fr > 0 THEN 'fr'
        |         ELSE 'und' END AS pred_lang
        |  FROM h),
        |c AS (
        |  SELECT lang, pred_lang, COUNT(*) AS n_docs FROM p GROUP BY 1, 2)
        |SELECT lang, pred_lang, n_docs,
        |  CAST(n_docs AS DOUBLE)
        |    / CAST(SUM(n_docs) OVER (PARTITION BY lang) AS DOUBLE) AS share
        |FROM c ORDER BY lang, pred_lang""".stripMargin,
    "txt_fingerprint" ->
      """WITH t AS (
        |  SELECT doc_id, text, list_filter(string_split(text, ' '), x -> len(x) > 0) AS tk
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, text,
        |    CASE WHEN len(tk) >= 3
        |      THEN list_transform(range(1, len(tk) - 1),
        |             i -> concat(tk[i], ' ', tk[i + 1], ' ', tk[i + 2]))
        |      ELSE CAST([] AS VARCHAR[]) END AS sh
        |  FROM t)
        |SELECT doc_id, md5(text) AS fp_full,
        |  list_min(list_transform(sh,
        |    x -> CAST('0x' || substring(md5(x), 1, 15) AS BIGINT))) AS fp_min_shingle
        |FROM s ORDER BY doc_id""".stripMargin,
    "txt_pii" ->
      s"""WITH seeded AS (
         |  SELECT doc_id,
         |    concat(text,
         |      CASE WHEN doc_id % 3 = 0 THEN ''
         |           ELSE concat(' contact user', CAST(doc_id AS VARCHAR),
         |                       '@example.com') END,
         |      ' tel 555-',
         |      lpad(CAST(doc_id * 7927 % 10000 AS VARCHAR), 4, '0')) AS txt
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(txt, '$EmailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(txt, '$PhoneRe')) AS BIGINT) AS n_phones,
         |  md5(regexp_replace(regexp_replace(txt, '$EmailRe', '<EMAIL>', 'g'),
         |    '$PhoneRe', '<PHONE>', 'g')) AS scrubbed_md5
         |FROM seeded ORDER BY doc_id""".stripMargin,
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "txt_tokens" -> (txtTokens _),
    "txt_word_stats" -> (txtWordStats _),
    "txt_zipf_top" -> (txtZipfTop _),
    "txt_langid_conf" -> (txtLangidConf _),
    "txt_quality" -> (txtQuality _),
    "txt_langid" -> (txtLangid _),
    "txt_fingerprint" -> (txtFingerprint _),
    "txt_pii" -> (txtPii _),
    "txt_ngram_top" -> (txtNgramTop _),
    "txt_docfreq" -> (txtDocfreq _),
    "txt_bpe_vocab" -> (txtBpeVocab _),
    "txt_sp_unigram" -> (txtSpUnigram _),
    "txt_sp_encode" -> (txtSpEncode _),
    "txt_sp_freq" -> (txtSpFreq _),
    "txt_bpe_encode" -> (txtBpeEncode _),
    "txt_bpe_freq" -> (txtBpeFreq _),
    "txt_tfidf_top" -> (txtTfidfTop _),
    "txt_hash_tf" -> (txtHashTf _),
    "txt_classifier_score" -> (txtClassifierScore _),
    "txt_lm_score" -> (txtLmScore _),
    "txt_langid_mix" -> (txtLangidMix _),
    "txt_len_profile" -> (txtLenProfile _),
  )
}
