package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.sum
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Present

/** Suite-wide plan-shape regression gate: no query may broadcast a
  * relation whose size is proportional to a FACT table (lineitem,
  * orders, events, documents, embeddings). Locally the broadcast
  * threshold happily ships such relations — the plan stays green at
  * test scale and dies at the 100 TB posture — so the scale contract
  * has to be asserted structurally, not observed from timings.
  *
  * A BroadcastExchange subtree is attributed to the fact tables its own
  * FileScans read (indentation-scoped, so sibling subtrees don't
  * false-positive). Queries that broadcast a genuinely bounded
  * DERIVATION of a fact table (a handful of probes, a benchmark gram
  * set, an O(keys) aggregate) declare it in `allowed` with the reason.
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._
  private val dir = "/root/testdata/sf0.001"
  private val fact = Set("lineitem", "orders", "events", "documents", "embeddings")

  /** Intentional fact-DERIVED broadcasts, each bounded by design. */
  private val allowed: Map[String, Set[String]] = Map(
    // <= 5 probe vectors (and, for IVF, k collected centroids)
    "sim_topk_bruteforce" -> Set("embeddings"),
    "sim_lsh_ann" -> Set("embeddings"),
    // compose the probe-broadcast pipelines above — same <= 5 probe
    // (and, for IVF/PQ, collected-model) broadcasts; the recall compare
    // join itself is pinned shuffle_hash
    "sim_ann_recall" -> Set("embeddings"),
    // radius faces: the same <= 5 probe broadcast; the recall compare
    // join is pinned shuffle_hash
    "sim_range_search" -> Set("embeddings"),
    "sim_range_recall" -> Set("embeddings"),
    // sign-bit profile: the same <= 5 probe-signature broadcast
    "sim_sign_hamming" -> Set("embeddings"),
    "sim_ivf_recall" -> Set("embeddings"),
    "sim_pq_recall" -> Set("embeddings"),
    "sim_ivf_ann" -> Set("embeddings"),
    "sim_ivf_trained" -> Set("embeddings"),
    "sim_pq_ann" -> Set("embeddings"),
    "sim_pq_trained" -> Set("embeddings"),
    // the IVFADC composition of the two: the same <= 5 probe broadcast
    // (now carrying ADC tables + the probe's list id); the recall
    // compare join stays pinned shuffle_hash
    "sim_ivfpq_ann" -> Set("embeddings"),
    "sim_ivfpq_recall" -> Set("embeddings"),
    // the rerank tier broadcasts the R x #probes ADC shortlist and the
    // <= 5 raw probes (both bounded by construction)
    "sim_ivfpq_rerank" -> Set("embeddings"),
    // matryoshka: the R x #probes prefix-tier shortlist (TopKPerKey
    // output, bounded by construction) and the <= 5 raw probes
    "sim_matryoshka" -> Set("embeddings"),
    // trained twins: same <= 5 probe / collected-model broadcasts (the
    // k-means fit itself collects only O(k * dim) sums per iteration)
    "sim_ivfpq_trained" -> Set("embeddings"),
    "sim_ivfpq_trained_recall" -> Set("embeddings"),
    // (the dd_embed_*/sim_knn_join skew-bound count broadcasts are
    // covered by the structural __skb_ exemption in broadcastFacts)
    // benchmark gram set: small by definition (documented in Pipeline)
    "txt_contamination" -> Set("documents"),
    // three 1-row stage-count aggregates cross-joined into the summary
    "ev_funnel" -> Set("events"),
    // the horizon + three 1-row median relations cross-joined into the
    // segment CASE (all bounded by construction)
    "ev_rfm" -> Set("events"),
    // the 1-row global vector count cross-joined into the per-label output
    "emb_class_sep" -> Set("embeddings"),
    // the C-row column-sum, C-row Gram-diagonal and 1-row n moment
    // aggregates meeting the C^2-row Gram (all bounded by the column
    // count, never data-scale)
    "arr_corrcoef" -> Set("events"),
    // same bounded moment relations as arr_corrcoef (C-row column sums
    // + the 1-row n), meeting the C^2-row Gram
    "arr_cov" -> Set("events"),
    // the bottom-k holdout hash set: <= FixedKPerSource x |sources|
    // rows by construction (the KMinHash aggregate is k-bounded)
    "smp_fixed_k" -> Set("documents"),
    // the 1-row quartile-cut relation cross-joined into the phase map
    "pipe_curriculum" -> Set("documents"),
    // per-source aggregates (O(|sources|) rows)
    "pipe_clean" -> Set("documents"),
    // per-source keep-fraction relation + its 1-row total (O(|sources|))
    "pipe_mix" -> Set("documents"),
    "smp_temperature" -> Set("documents"),
    // the composite inherits exactly its stages' bounded broadcasts:
    // pipe_mix's O(|sources|) frac relation and txt_contamination's
    // benchmark gram set — the corpus-scale sides all stay shuffled
    // (semi joins to survivor ids, span/contam joins are shuffle_hash)
    "pipe_e2e" -> Set("documents"),
    "pipe_e2e_shuffle" -> Set("documents"),
    "pipe_e2e_pack" -> Set("documents"),
    // the aggregated heavy-supplier set (O(#suppliers) rows)
    "q20_heavy_parts" -> Set("lineitem"),
    // O(#parts) per-part average — the schema's dim-scale posture
    "q_small_qty" -> Set("lineitem"),
    // the 1-row global max of the per-supplier revenue aggregate
    "q15_top_supplier" -> Set("lineitem"),
    // top-100 vocabulary: bounded by the LIMIT, by construction
    "txt_vocab_coverage" -> Set("documents"),
    // (txt_tfidf_top left the list in r15: its df relation is now a
    // vocabulary-scale threshold set, pinned shuffle_hash — no broadcast)
  )

  /** Fact tables scanned INSIDE BroadcastExchange subtrees of `plan`. */
  private def broadcastFacts(plan: String): Set[String] = {
    val lines = plan.split('\n')
    // A node's depth is the column of its node marker, which is "+-" for a
    // LAST child and ":-" for a non-last one (branch-continuation colons are
    // ": " and never match ":-", so the first "[:+]-" hit IS the marker).
    // Keying on "+-" alone gave every ":-"-rooted node Int.MaxValue: as a
    // child it inflated the walk, and as the BroadcastExchange line itself
    // it emptied the subtree walk entirely — build-left joins and AQE
    // replans render broadcasts as ":-" children, so those passed unseen.
    val markerRe = "[:+]-".r
    def indent(l: String): Int =
      markerRe.findFirstMatchIn(l).map(_.start).getOrElse(Int.MaxValue)
    val scanRe = "testdata/sf[^/]+/(\\w+)\\.parquet".r
    lines.indices.flatMap { i =>
      if (!lines(i).contains("BroadcastExchange")) Nil
      else {
        // A markerless line is the plan root: its subtree is everything below.
        val base = if (indent(lines(i)) == Int.MaxValue) -1 else indent(lines(i))
        val subtree = lines.drop(i + 1)
          .takeWhile(l => indent(l) > base) // stay inside the subtree
        // Structural exemption: Joins.skewBound's hot-key relation. It
        // is count>cap FILTERED — 0 rows on a well-behaved corpus,
        // <= n/cap skinny rows ever — and reaches a plan-time broadcast
        // only when Catalyst's size estimate (proportional to the scan)
        // is small, so the choice de-escalates to a shuffle join at
        // fact scale. NARROW (ADVICE r15): the exemption requires the
        // subtree to BE the hot relation — the __skb_-producing
        // HashAggregate with no Join above or below it in the broadcast
        // — so a corpus-scale relation that merely CARRIES __skb_
        // lineage (e.g. the fallback path's left-joined salted side)
        // is still counted if it ever gets broadcast.
        val isHotRelation = subtree.exists(l =>
          l.contains("HashAggregate") && l.contains("__skb_")) &&
          !subtree.exists(_.contains("Join"))
        if (isHotRelation) Nil
        else subtree.flatMap(l => scanRe.findFirstMatchIn(l).map(_.group(1)))
      }
    }.toSet.intersect(fact)
  }

  test("gate walks :- -rooted BroadcastExchange subtrees (build-left / AQE)") {
    // Synthetic build-left plan: the broadcast is a NON-last child (":-"),
    // exactly the shape the old "+-"-only marker parsing skipped.
    val buildLeft =
      """*(3) Project [o_orderkey]
        |+- *(3) BroadcastHashJoin [l_orderkey], [o_orderkey], Inner, BuildLeft
        |   :- BroadcastExchange HashedRelationBroadcastMode(...)
        |   :  +- *(1) ColumnarToRow
        |   :     +- FileScan parquet [l_orderkey] ... file:/root/testdata/sf0.001/lineitem.parquet
        |   +- *(2) ColumnarToRow
        |      +- FileScan parquet [o_orderkey] ... file:/root/testdata/sf0.001/orders.parquet""".stripMargin
    assert(broadcastFacts(buildLeft) === Set("lineitem"),
      "a :- -rooted BroadcastExchange must attribute its own scans (and only its own)")

    // Deeper nesting under continuation colons: marker column, not colon
    // column, decides depth, so the sibling probe side must stay excluded.
    val nested =
      """*(5) SortMergeJoin [k], [k], Inner
        |:- *(4) Sort [k ASC]
        |:  +- *(4) BroadcastHashJoin [d], [d], Inner, BuildLeft
        |:     :- BroadcastExchange IdentityBroadcastMode
        |:     :  +- FileScan parquet ... file:/root/testdata/sf0.001/events.parquet
        |:     +- FileScan parquet ... file:/root/testdata/sf0.001/documents.parquet
        |+- *(2) Sort [k ASC]
        |   +- FileScan parquet ... file:/root/testdata/sf0.001/embeddings.parquet""".stripMargin
    assert(broadcastFacts(nested) === Set("events"),
      "subtree walk must stop at the broadcast's sibling, not leak into it")
  }

  test("__skb_ exemption covers ONLY the hot-key relation, not lineage carriers") {
    // the genuine hot relation: count>cap aggregate, no join — exempt
    val hotRel =
      """*(3) ShuffledHashJoin [k], [k], Inner
        |:- BroadcastExchange HashedRelationBroadcastMode(...)
        |:  +- *(2) Project [k, __skb_m]
        |:     +- *(2) Filter (__skb_n > 65536)
        |:        +- *(2) HashAggregate(keys=[k], functions=[count(1) AS __skb_n])
        |:           +- FileScan parquet [k] ... file:/root/testdata/sf0.001/lineitem.parquet
        |+- FileScan parquet [k] ... file:/root/testdata/sf0.001/lineitem.parquet""".stripMargin
    assert(broadcastFacts(hotRel) === Set.empty,
      "the count>cap hot relation itself stays exempt")
    // regression shape (ADVICE r15): a CORPUS-SCALE side that merely
    // carries __skb_ lineage (hot relation left-joined onto the fact)
    // gets broadcast — the gate must flag it
    val lineageCarrier =
      """*(5) ShuffledHashJoin [k], [k], Inner
        |:- BroadcastExchange HashedRelationBroadcastMode(...)
        |:  +- *(4) Project [k, pmod(salt, coalesce(__skb_m, 1)) AS __split]
        |:     +- *(4) BroadcastHashJoin [k], [k], LeftOuter, BuildRight
        |:        :- FileScan parquet [k] ... file:/root/testdata/sf0.001/lineitem.parquet
        |:        +- BroadcastExchange HashedRelationBroadcastMode(...)
        |:           +- *(3) HashAggregate(keys=[k], functions=[count(1) AS __skb_n])
        |:              +- FileScan parquet [k] ... file:/root/testdata/sf0.001/lineitem.parquet
        |+- FileScan parquet [k] ... file:/root/testdata/sf0.001/orders.parquet""".stripMargin
    assert(broadcastFacts(lineageCarrier).contains("lineitem"),
      "a broadcast fact-scale relation is not exempt just for carrying __skb_ lineage")
  }

  test("cube/rollup expand the 6-row base aggregate, never the fact stream") {
    // Spark plans cube()/rollup() as Expand BELOW the partial aggregate:
    // applied to the raw table, every fact row is multiplied by the
    // number of grouping sets through the map-side hash. The two-phase
    // spelling aggregates to the (flag, status) base first — so the
    // Expand node's subtree must contain a HashAggregate (the base
    // pass), i.e. Expand sits above the aggregated relation, not the
    // scan. (Plan strings print a node's subtree after it.)
    for (name <- Seq("q_cube", "q_rollup")) {
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      val ix = plan.indexOf("Expand")
      assert(ix >= 0, s"$name lost its Expand node:\n$plan")
      assert(plan.substring(ix).contains("HashAggregate"),
        s"$name: Expand sits directly on the fact scan (grouping-set " +
          s"multiplication of the fact stream):\n$plan")
    }
  }

  test("arr_topk merges through the k-bounded aggregate, not collect_list") {
    // the collect_list merge buffered O(k · #chunks) structs on one
    // reducer per timestep; TopKSortedMerge caps every buffer at k
    val plan = SparkEntry.queries("arr_topk")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_graft_topk_merge"),
      s"arr_topk lost its map-side TopKSortedMerge partial:\n$plan")
    // scope to the merge region: the memoized chunk relation BELOW the
    // InMemoryTableScan legitimately assembles chunks with collect_list
    val mergeRegion = plan.substring(0, math.max(0, plan.indexOf("InMemoryTableScan")))
    assert(!mergeRegion.contains("collect_list"),
      s"arr_topk still buffers unsliced chunk blocks via collect_list:\n$plan")
  }

  /** Queries whose plans legitimately evaluate a graft-native expression
    * inside a scan filter, each with the reason it is NOT the
    * duplication anti-pattern. */
  private val scanFilterAllowed: Map[String, String] = Map(
    // the n-gram gate IS the scan predicate here — it runs on the
    // bounded src0 benchmark side only (the corpus side keeps its gram
    // chain above the scan), and the Generate-inferred size>0 filter is
    // the gate itself, not a duplicated inference (documented choice in
    // Pipeline.txtContamination: the hashed variant measured slower)
    "txt_contamination" -> "gram gate on the bounded benchmark side is the scan predicate",
    // the composite splices txt_contamination's decontamination stage
    // verbatim (shared contamFracs plan) — same bounded-benchmark-side
    // scan predicate, same documented choice
    "pipe_e2e" -> "inherits txt_contamination's benchmark-side scan gate",
    "pipe_e2e_shuffle" -> "inherits txt_contamination's benchmark-side scan gate",
    "pipe_e2e_pack" -> "inherits txt_contamination's benchmark-side scan gate",
    // the non-degenerate gate (amax > 0) pushes AbsMax into the scan
    // filter — the SAME pushdown the pre-r21 interpreted HOF spelling
    // had (invisible to this gate because HOFs carry no graft_ name).
    // The duplicate evaluation is one compiled 64-wide loop per row;
    // pruning degenerate vectors at the scan is worth the recompute.
    "emb_quant_int8" -> "amax>0 gate at the scan; duplicate is one native loop/row",
  )

  /** Scan-level filter text of `plan`: every FileScan's `DataFilters:`
    * segment plus every `isnotnull(...)` term of Filter nodes. Expensive
    * graft-native expressions (`graft_*`) in either place mean Catalyst
    * inferred a predicate (join-key IsNotNull, Generate size>0,
    * constraint-derived isnotnull) and inlined the WHOLE subtree into
    * the scan — the expression then runs once in the filter and again
    * in the projection, an extra corpus-wide pass that no correctness
    * signal can see (round 14 hand-hunted four instances; this gate
    * makes the audit structural). */
  private def scanFilterGraftHits(plan: String): Seq[String] = {
    val dataFilterRe = "DataFilters: \\[[^\\]]*".r // plan strings truncate the list; prefix is enough
    val isnotnullRe = "isnotnull\\(graft_\\w+".r
    val hits = plan.split('\n').flatMap { l =>
      val inScan = dataFilterRe.findFirstIn(l).filter(_.contains("graft_"))
      val inferred =
        if (l.contains("Filter")) isnotnullRe.findFirstIn(l) else None
      inScan.orElse(inferred)
    }
    hits.map(_.take(120)).toSeq
  }

  test("scan-filter gate flags inlined graft expressions (synthetic)") {
    val pushed =
      """*(2) Project [graft_dot(a#1, a#1) AS n2#9]
        |+- *(1) Filter (isnotnull(graft_dot(a#1, a#1)) AND isnotnull(id#0L))
        |   +- FileScan parquet [id#0L,a#1] Batched: true, DataFilters: [isnotnull(graft_dot(a#1, a#1)), isnotnull(id#0L)], Format: Parquet""".stripMargin
    assert(scanFilterGraftHits(pushed).nonEmpty,
      "a graft_ expression inlined into DataFilters must be flagged")
    val clean =
      """*(2) Project [graft_dot(a#1, a#1) AS n2#9]
        |+- *(1) Filter isnotnull(id#0L)
        |   +- FileScan parquet [id#0L,a#1] Batched: true, DataFilters: [isnotnull(id#0L)], Format: Parquet""".stripMargin
    assert(scanFilterGraftHits(clean).isEmpty,
      "plain column filters must pass; graft_ in the projection is fine")
  }

  // Presentation sorts: what each surviving Present spelling adds above
  // its child, and the spreadSorted serving queries still ending in the
  // doc_id range order the spread established (nothing between the
  // spread and the result may re-partition or re-order).

  /** The physical plan as planned (exchanges inserted), before AQE
    * re-optimizes stages at run time. */
  private def physical(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.initialPlan
    case p => p
  }

  private def exchanges(df: DataFrame) =
    physical(df).collect { case e: ShuffleExchangeExec => e.outputPartitioning }

  /** A bounded aggregate: its own hash exchange sits below the sort. */
  private lazy val agg = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "s")
    .groupBy("s").agg(sum("id").as("t"))

  test("Present.fused adds no exchange above its child") {
    val df = agg.transform(Present.fused("s"))
    assert(exchanges(agg).nonEmpty)
    assert(exchanges(df).size == exchanges(agg).size, physical(df))
    assert(physical(df).outputPartitioning == SinglePartition, physical(df))
    assert(df.as[(String, Long)].collect().toSeq == Seq(("a", 4L), ("b", 2L)))
  }

  test("Present.sorted adds exactly one SinglePartition exchange, no range partitioning") {
    val df = agg.transform(Present.sorted("s"))
    val added = exchanges(df).size - exchanges(agg).size
    assert(added == 1, physical(df))
    assert(exchanges(df).count(_ == SinglePartition) ==
      exchanges(agg).count(_ == SinglePartition) + 1, physical(df))
    assert(!exchanges(df).exists(_.isInstanceOf[RangePartitioning]), physical(df))
    assert(df.as[(String, Long)].collect().toSeq == Seq(("a", 4L), ("b", 2L)))
  }

  private def isDocIdAsc(o: SortOrder): Boolean = o.direction == Ascending &&
    (o.child match { case a: AttributeReference => a.name == "doc_id"; case _ => false })

  /** Per-document serving queries that establish their declared
    * `ORDER BY doc_id` with `Present.spreadSorted` below the kernel map. */
  private val spreadServing = Seq("txt_classifier_score", "txt_fingerprint",
    "txt_langid", "txt_lm_score", "txt_pii", "txt_quality", "txt_repetition",
    "txt_sp_encode", "txt_tokens")

  spreadServing.foreach { name =>
    test(s"$name ends range-partitioned and ordered on doc_id") {
      val p = physical(SparkEntry.queries(name)(spark, dir))
      p.outputPartitioning match {
        case RangePartitioning(order, _) =>
          assert(order.size == 1 && isDocIdAsc(order.head), p)
        case other => fail(s"$name output partitioning is $other, not a doc_id range:\n$p")
      }
      assert(p.outputOrdering.headOption.exists(isDocIdAsc),
        s"$name output ordering ${p.outputOrdering} does not start with doc_id ASC:\n$p")
    }
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, q) =>
    test(s"no fact-scale broadcast in $name") {
      // one executedPlan derivation serves both structural gates
      val plan = q(spark, dir).queryExecution.executedPlan.toString
      val bad = broadcastFacts(plan) -- allowed.getOrElse(name, Set.empty)
      assert(bad.isEmpty,
        s"broadcast of fact-scale relation(s) $bad — shuffle it or whitelist with a reason:\n$plan")
      if (!scanFilterAllowed.contains(name)) {
        val hits = scanFilterGraftHits(plan)
        assert(hits.isEmpty,
          s"$name evaluates graft-native expression(s) inside a scan filter " +
            s"(inferred-predicate pushdown duplication — make the key non-nullable " +
            s"via coalesce, filter above the cache boundary, or explode_outer): " +
            s"${hits.mkString("; ")}\n$plan")
      }
    }
  }
}
