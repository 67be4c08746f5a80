package graft

import java.nio.file.{Files, Paths}

// Regenerates PLANS.md: formatted physical plans of headline queries with
// scale commentary. Run: sbt "Test/runMain graft.DumpPlans"
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val spark = Bench.measurementSession("8", 8)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"

    val picks: Seq[(String, String)] = Seq(
      "q1_pricing_summary" ->
        "Partial agg before the exchange (map-side combine); scan carries PushedFilters and a pruned ReadSchema.",
      "q5_region_volume" ->
        "All five dimension joins are BroadcastHashJoin; only the lineitem-orders join shuffles, keyed once.",
      "q_topn" ->
        "TakeOrderedAndProject: per-partition top-N merged on the driver, no global sort of the table.",
      "ev_asof_join" ->
        "As-of join as union + one running window over (user, time): single shuffle, no range-join pair explosion.",
      "arr_sum_ts" ->
        "Chunk payloads fold to one decimal per chunk before the (tiny) aggregation exchange: bytes shuffled are O(#chunks).",
      "arr_stencil_sum" ->
        "Halo exchange: chunks ship only edge strips (O(perimeter)); the stencil computes chunk-locally after one groupBy.",
      "dd_minhash_lsh" ->
        "Signatures are one codegen'd pass over a persisted relation; candidate pairs form only inside band buckets; the verify joins back to signatures are shuffle hash joins on doc_id (no corpus broadcast).",
      "dd_simhash" ->
        "60-bit signature, one codegen'd pass; 4x15-bit band self-join (guaranteed recall at hamming <= 3), pair distinct, tiny histogram agg.",
      "dd_embed_near" ->
        "Hyperplane-bucket blocking with hamming<=2 multi-probe on one side (22x explode); pair join is bucket+label equi-join, never all-pairs.",
      "arr_cumsum2d" ->
        "Per-axis scan: native line prefixes chunk-locally; the carry window partitions by the NON-scanned grid dims, so the only exchange moves one slab-sized vector per chunk and every scan line stays independent.",
      "sim_topk_bruteforce" ->
        "Probes broadcast; codegen'd dots feed TopKPerKeyExec partial/final (bounded heap, no per-probe sort); the corpus never shuffles raw.",
      "sim_ivf_ann" ->
        "Centroid assignment is a narrow argmin over broadcast literals (no crossJoin, no n*k rows); probes search only their inverted list.",
      "q_median" ->
        "Two-pass exact median: per-(flag, quantity) counts then a cumulative scan over the tiny histogram — no WindowExec over row data.",
      "pipe_clean" ->
        "One tokenizing scan feeds the quality gate; keep-min-id dedup is an unordered window-min keyed by content hash (partition width = dup multiplicity), then partial-agg rollups.",
      "txt_contamination" ->
        "Benchmark gram set broadcast to a left join over ONE explode_outer pass of the corpus (zero-gram docs kept; n_grams recovered as count(g) so the gram chain is evaluated once); per-doc rollup is the only exchange.",
      "arr_tensordot" ->
        "Rank-generic contraction: block products at the chunk equi-join on (timestep, k); partial blocks merge in one small groupBy — payloads shuffle once, nothing assembles whole.",
      "dd_cluster" ->
        "Verified LSH pairs -> connected components: the shown plan is one propagation round (hash join + partial-agg min per vertex); rounds are localCheckpoint-bounded, labels are O(docs-in-pairs).",
      "txt_pii" ->
        "Pure narrow scan: regexp counts + chained global regexp_replace + md5 checksum, codegen'd end-to-end; the only exchange is the presentation sort.",
      "q21_sole_late" ->
        "Double-correlated EXISTS/NOT EXISTS as semi + anti hash joins on the order key; the late relation is computed once; the supplier dim broadcasts.",
      "q20_heavy_parts" ->
        "Nested aggregate into IN: lineitem semi-pruned by the broadcast part filter BEFORE the (supp, part) group-by; outer IN is a semi join on the tiny distinct set.",
      "mm_decode_stats" ->
        "Typed per-partition decode (the mapInPandas batch shape) stays narrow; only the 3-row per-kind partial aggregate shuffles — payload bytes never cross the wire.",
      "smp_source_cap" ->
        "Per-source quota via TopKPerKeyExec partial/final: the exchange moves at most k rows per (source, partition), never the corpus; no WindowExec sort.",
      "sim_pq_ann" ->
        "PQ/ADC: encode is a narrow argmin per subspace; probe lookup tables broadcast; scoring reads only the code columns (M bytes/row, never raw vectors); bounded-heap top-k.",
      "emb_label_assign" ->
        "Nearest-class-mean: centroid matrix is a collected model artifact, assignment a narrow argmin over literals; the only exchange is the tiny confusion aggregate.",
      "arr_cumsum" ->
        "Distributed scan: native decimal prefix per chunk (narrow), carry via a window over per-chunk TOTALS — the only exchange moves one row per chunk.",
      "dd_keep_one" ->
        "Deduped corpus: anti join against the non-canonical member set (O(docs-in-dup-pairs)), shuffle-hashed on doc_id; the corpus never broadcasts or self-joins.",
      "arr_mean_diff" ->
        "ONE events scan builds both parity cell relations (conditional aggregates into a persisted O(#cells) relation); each side densifies from it and the zip is a shuffle-hash join on the grid key.",
      "arr_axis_var" ->
        "Axis variance: one (sum, sumsq) decimal-pair block per chunk folds chunk-locally; the only exchange merges slab-sized moment blocks across the axis chunk line.",
      "arr_masked_sum" ->
        "Masked reduce: the predicate filters inside the chunk fold — one (count, decimal) pair per chunk is all that shuffles.",
      "sim_pq_trained" ->
        "Trained PQ: identical encode/ADC plan to sim_pq_ann, only the codebook literals differ (k-means fit memoized per corpus fingerprint); scoring still reads only code columns.",
      "q_cube" ->
        "Two-phase grouping sets: the fact stream aggregates to the 6-row (flag, status) base FIRST; Expand (x4 grouping sets) applies to the base aggregate, never the scan.",
      "dd_embed_cluster" ->
        "Semantic dedup clusters: bucket-blocked multi-probe pair join feeds the pointer-doubled CC loop — edge-sized shuffles, label relation O(vectors-in-pairs).",
      "txt_ngram_top" ->
        "Corpus phrase table: map-side partial agg collapses each partition to distinct bigrams before the shuffle; the global head is TakeOrderedAndProject (k rows per partition), never a full sort.",
      "pipe_mix" ->
        "Mixture resampling: the O(#sources) keep-fraction relation (counts + global-window total, ONE corpus scan) broadcasts onto the scan; the filter is a narrow hash threshold.",
      "ev_anomaly" ->
        "Burst detection: per-user moments are unordered window aggregates over the HOURLY relation — partition width = one user's active hours; raw events shuffle once into the hourly partial agg.",
      "sim_knn_join" ->
        "k-NN self-join: both sides corpus-scale — bucket-keyed shuffle join (22 probe masks, each directed pair via exactly one), bounded-heap TopKPerKey; nothing corpus-sized broadcasts.",
      "q_percentiles" ->
        "Multi-quantile: one O(distinct-values) histogram + bounded window; all three quantiles are conditional MINs over the same relation — no joins, no second fact scan.",
      "arr_reshape_flat" ->
        "Reshape: one shuffle keyed by the NEW chunk id (posexplode -> flat-index re-address -> groupBy re-pack), then the cumsum carry window over per-chunk totals.",
      "arr_stencil_avg" ->
        "Generalized axis stencil: chunks explode into self + two r-deep boundary slabs; ONE groupBy assembles neighborhoods; the kernel computes chunk-locally.",
      "arr_zip_mismatch" ->
        "Mismatched-geometry zip: the other operand rechunks onto this grid (one re-addressing shuffle), then the aligned zip is a shuffle-hash join on (timestep, pos).",
      "arr_stack_axis" ->
        "Stack: pure metadata union (pos prefix projection, no Exchange); the per-slab totals fold through two decimal axis reductions.",
      "txt_bpe_vocab" ->
        "BPE training: each merge round is one bounded pair-count partial agg + a 1-row best-pair collect + a narrow replace-merge; the corpus scans once into the word-frequency relation.",
      "txt_tfidf_top" ->
        "TF-IDF: bounded top-100 df relation broadcasts onto the single-pass term counts; the per-doc head is bounded-heap TopKPerKey, no WindowExec.",
    )

    val notes = picks.toMap
    // Headline picks first (curated order), then every remaining query
    // alphabetically — the full surface is reviewable without a local run.
    val rest = SparkEntry.queries.keys.toSeq.filterNot(notes.contains).sorted
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of every SparkEntry query\n\n")
    sb.append("Generated by `sbt \"Test/runMain graft.DumpPlans\"` at sf0.01.\n")
    sb.append("Headline queries carry a \"what to look for\" note; regenerate\n")
    sb.append("after any operator change. Gate notes: no fact-scale broadcast\n")
    sb.append("(PlanShapeSpec asserts it structurally for every query below).\n")
    (picks.map(_._1) ++ rest).foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      val note = notes.get(name).map(n => s"$n\n\n").getOrElse("")
      sb.append(s"\n## $name\n\n$note```\n${plan.trim}\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${picks.size} noted + ${rest.size} more plans)")
    spark.stop()
  }
}
