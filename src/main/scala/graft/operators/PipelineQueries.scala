package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Engine
import graft.functions.GraftFunctions

/** Query/oracle registrations for the LLM-training-data pipeline operators
  * (SURVEY §2.11 north star): dedup, similarity search, text analysis,
  * multimodal plumbing, plus the scalable as-of join.
  *
  * Oracle-declared entries are bit-deterministic against DuckDB (integer
  * quantization for anything FP-derived — see SURVEY §2.12 preamble).
  * Entries without an oracle (minhash/simhash/LSH: engine-specific hashes
  * cannot cross-match) get the driver's rows-only check and are covered by
  * ScalaTest specs instead.
  */
object PipelineQueries {

  private def q(f: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      Engine.registerTables(spark, dir)
      f(spark, dir)
    }

  private def dirKey(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString

  /** ANN-audit corpus (p09/p21): base vectors with vec_id >= 10 plus 30
    * graded near-copies of each probe vector (vec_id < 5) — copy j scales
    * the odd 1-based coordinates by (1 + 0.0005*j) and casts back to
    * float, so cosine(probe, copy_j) is strictly decreasing in j and every
    * copy sits at cosine > 0.9999 while all cross pairs stay < 0.52. The
    * whole construction is reproducible bit-for-bit in the DuckDB oracle
    * (double factor arithmetic + IEEE float cast are engine-independent). */
  private def annAuditCorpus(s: SparkSession): DataFrame = {
    val emb = s.table("embeddings").select(col("vec_id"), col("embedding"))
    val planted = emb.filter(col("vec_id") < 5)
      .select(col("vec_id"), explode(sequence(lit(1), lit(30))).as("j"),
        col("embedding"))
      .select((lit(1000000L) + col("vec_id") * 100 + col("j")).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x * (lit(1.0) + lit(0.0005) * col("j") * ((i + 1) % 2)))
            .cast("float")).as("embedding"))
    emb.filter(col("vec_id") >= 10).unionByName(planted)
  }

  /** Recall@k audit over the planted corpus: one exact brute-force job for
    * all probes (cross join against the broadcast 5-row probe frame,
    * windowed top-k — the same cosine kernel the oracle mirrors), then the
    * index path for ALL probes as one batched job (r16, guide §1.2: the
    * per-probe loop ran 3 sequential driver-round-trip jobs per probe —
    * `annMany` returns one union plan tagged (query_id, vec_id), so the
    * bucket-pruned branches run concurrently inside a single job).
    * Driver-side data is O(probes * k) rows — the same bounded-collect
    * class as the IVF centroid probe. Output per probe:
    * (query_id, exact_topk CSV in rank order, recall_ok). */
  private def annRecallAudit(s: SparkSession, corpus: DataFrame, k: Int,
      minHits: Int,
      annMany: Seq[(Long, Array[Float])] => DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val probes = s.table("embeddings").filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding")).orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val probesDf = broadcast(
      probes.toSeq.map { case (id, v) => (id, v.toSeq) }.toDF("query_id", "qv"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    val exact = corpus.crossJoin(probesDf)
      .select(col("query_id"), col("vec_id"),
        GraftFunctions.cosine_sim(col("embedding"), col("qv")).as("cosine"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("query_id"), col("vec_id"), col("rn"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (qid, rows) => qid -> rows.sortBy(_.getInt(2)).map(_.getLong(1)) }
    val found: Map[Long, Set[Long]] =
      annMany(probes.toSeq).select(col("query_id"), col("vec_id")).collect()
        .groupBy(_.getLong(0))
        .map { case (qid, rows) => qid -> rows.map(_.getLong(1)).toSet }
    val out = probes.map { case (qid, _) =>
      val exactIds = exact.getOrElse(qid, Array.empty[Long])
      val hits = exactIds.count(found.getOrElse(qid, Set.empty).contains)
      (qid, exactIds.mkString(","), hits >= minHits)
    }.toSeq
    out.toDF("query_id", s"exact_top$k", "recall_ok").orderBy("query_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- dedup ----
    "p01_dedup_exact" -> q((s, _) =>
      Dedup.exactGroups(s.table("documents")).orderBy("h")),
    "p02_dedup_ngram_jaccard" -> q((s, _) =>
      Dedup.ngramJaccardPairs(s.table("documents")).orderBy("d1", "d2")),
    // r6: driver-checkable — the sf0.01 fixture's exact 3-gram-Jaccard
    // pair set at >= 0.5 has NO borderline pairs (all 25 sit at j >= 0.9,
    // where the 16x4 banding's miss probability is (1-0.9^4)^16 ≈ 5e-8),
    // so the LSH + exact-verify output IS the brute-force pair set and the
    // oracle computes that set directly. jac_bp quantization: the Jaccard
    // is an exact small-integer ratio, identical in double on both sides.
    "p03_dedup_minhash" -> q((s, _) =>
      Dedup.minhashPairs(s.table("documents"), threshold = 0.5)
        .select(col("d1"), col("d2"),
          round(col("jaccard") * 10000).cast("bigint").as("jac_bp"))
        .orderBy("d1", "d2")),
    // r6: driver-checkable — the portable (md5-token-hash) simhash makes
    // every signature reproducible in DuckDB SQL, and banding is
    // pigeonhole-EXACT (any pair within hamming <= 3 shares one of 4 exact
    // bands), so the engine's banded pair set equals the oracle's
    // brute-force hamming scan deterministically. The xxhash64 fast path
    // stays the production default (OperatorsSpec covers it).
    "p04_dedup_simhash" -> q((s, _) =>
      Dedup.simhashPairs(s.table("documents"), maxHamming = 3, portable = true)
        .select(col("d1"), col("d2"), col("hamming").cast("bigint").as("hamming"))
        .orderBy("d1", "d2")),
    // r6: driver-checkable — the base fixture is near-random (max pairwise
    // cosine ~0.51), so the entry PLANTS one deterministic near-duplicate
    // per vector (odd 1-based coords scaled 1.01, cast back to float —
    // bit-identical construction in DuckDB) and declares the full pair set
    // at cosine >= 0.99: exactly the n planted (original, copy) pairs,
    // cleanly separated from every cross pair. Banded hyperplane LSH finds
    // a cosine-0.99997 pair with miss probability (1-s^p)^bands < 1e-9, so
    // recall is deterministically 1.0 here; the low-threshold demo on raw
    // near-random data stays spec-covered (OperatorsSpec).
    "p05_dedup_embedding" -> q((s, dir) => {
      val emb = s.table("embeddings").select(col("vec_id"), col("embedding"))
      val planted = emb.select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x * (lit(1.0) + lit(0.01) * ((i + 1) % 2))).cast("float"))
          .as("embedding"))
      // corpus size from metadata, never a count() job (round-3 verdict #4)
      val n = 2 * s.table("embeddings").queryExecution.analyzed.stats.rowCount
        .map(_.toLong)
        .orElse(Engine.parquetRowCount(s"$dir/embeddings.parquet"))
        .getOrElse(emb.count())
      val p = math.max(4, math.min(Similarity.planesFor(math.max(1, n),
        targetBucketSize = 32), 12))
      Dedup.embeddingPairs(emb.unionByName(planted), minCosine = 0.99,
          planesPerBand = p, bands = 5)
        .select(col("d1"), col("d2"),
          round(col("cosine") * 1000000).cast("bigint").as("cos_micro"))
        .orderBy("d1", "d2")
    }),
    // ---- similarity search ----
    // the query vector is quantized ONCE on the 1-row broadcast side with
    // Spark's own round (exact oracle semantics); the data side runs the
    // native codegen kernel — the previous zip_with/aggregate lambda passes
    // were interpreted per element (3.2 s for the p07 sf1 scan vs 0.2 s for
    // the native-expression twin p08)
    "p06_sim_dot_topk" -> q((s, _) => {
      val emb = s.table("embeddings")
      val qv = emb.filter(col("vec_id") === 0)
        .select(expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT))").as("qy"))
      emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
        .select(col("vec_id"),
          call_function("quant_dot", col("embedding"), col("qy")).as("dot"))
        .orderBy(col("dot").desc, col("vec_id")).limit(20)
    }),
    "p07_sim_cos_micro_topk" -> q((s, _) => {
      val emb = s.table("embeddings")
      val qv = emb.filter(col("vec_id") === 0)
        .select(expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT))").as("qy"))
      emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
        .select(col("vec_id"),
          call_function("quant_cos_micro", col("embedding"), col("qy")).as("cos_micro"))
        .orderBy(col("cos_micro").desc, col("vec_id")).limit(20)
    }),
    "p08_sim_cosine_brute" -> q((s, _) => {
      val emb = s.table("embeddings")
      val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      Similarity.bruteForceTopK(emb.filter(col("vec_id") =!= 0), qv, 20)
        .select(col("vec_id"), (round(col("cosine") * 1e6)).cast("long").as("cos_micro"))
    }),
    // r6: driver-checkable recall@k audit. The base fixture is near-random
    // (no meaningful neighbors), so the audit PLANTS 30 graded near-copies
    // of each of 5 probe vectors (scale 1 + 0.0005*j on odd coords —
    // bit-identical construction in DuckDB); the exact top-20 per probe is
    // then the 20 closest planted copies, cleanly separated and strictly
    // ordered. The entry emits per probe the engine's brute-force exact
    // top-20 (checked value-for-value against DuckDB's brute force — the
    // cosine kernel parity) plus recall_ok = |ANN ∩ exact| >= 18, so a
    // silent ANN recall drop below 0.9 turns the row red. The ANN side is
    // the REAL index path: signatures persisted once into a
    // bucketed-by-signature table, probe buckets computed driver-side and
    // pushed down as an IN filter (bucket-pruned scan — the 100 TB shape).
    "p09_sim_ann_lsh" -> q((s, dir) => {
      val corpus = annAuditCorpus(s)
      val idx = "graft_ann_a6_" + dirKey(dir)
      if (!s.catalog.tableExists(idx))
        Similarity.buildAnnIndex(corpus, idx, planes = 4, numBuckets = 8)
      annRecallAudit(s, corpus, k = 20, minHits = 18,
        qs => qs.map { case (qid, qv) =>
          Similarity.annTopKIndexed(s, idx, qv, 20, planes = 4, probes = 4)
            .select(lit(qid).as("query_id"), col("vec_id"))
        }.reduce(_ unionByName _))
    }),
    // IVF-flat twin of p09's audit: centroid-bucketed index built once per
    // data dir, probes chosen driver-side from the tiny centroids table.
    // Same planted corpus, same exact side, same recall floor.
    "p21_sim_ann_ivf" -> q((s, dir) => {
      val corpus = annAuditCorpus(s)
      val idx = "graft_ivf_a6_" + dirKey(dir)
      if (!s.catalog.tableExists(idx))
        Similarity.buildIvfIndex(corpus, idx, nCentroids = 16, numBuckets = 8)
      annRecallAudit(s, corpus, k = 20, minHits = 18,
        qs => Similarity.ivfTopKIndexedMany(s, idx, qs, 20, nprobe = 4))
    }),
    // r14 (VERDICT r13 #7): IVF-index maintenance — build at a
    // DELIBERATELY STALE geometry (4 centroids; the sizing rule asks for
    // √n at every sf), let maintainIvfIndex measure bucket occupancy and
    // re-cluster from the index's OWN stored vectors (zero corpus scans
    // — the op never sees the embeddings table), then run p21's
    // recall@20 audit through the MAINTAINED index. Oracle = the shared
    // exact brute-force top-k (geometry-independent); the spec pins the
    // occupancy/geometry/generation mechanics.
    "p67_ivf_index_maint" -> q((s, dir) => {
      val corpus = annAuditCorpus(s)
      val idx = "graft_ivfmaint_" + dirKey(dir)
      if (!s.catalog.tableExists(idx))
        Similarity.buildIvfIndex(corpus, idx, nCentroids = 4, numBuckets = 8)
      Similarity.maintainIvfIndex(s, idx, targetBucket = 1,
        occupancyFactor = 0.0, numBuckets = 8)
      annRecallAudit(s, corpus, k = 20, minHits = 18,
        qs => Similarity.ivfTopKIndexedMany(s, idx, qs, 20, nprobe = 4))
    }),
    // ---- text analysis ----
    "p10_text_tokens" -> q((s, _) =>
      s.table("documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"), col("n_chars"))
        .orderBy("doc_id")),
    "p11_text_quality" -> q((s, _) =>
      TextAnalysis.qualityScored(s.table("documents")).orderBy("doc_id")),
    "p12_text_langid" -> q((s, _) =>
      TextAnalysis.langId(s.table("documents")).orderBy("doc_id")),
    "p13_text_fingerprint" -> q((s, _) =>
      TextAnalysis.fingerprints(s.table("documents")).orderBy("doc_id")),
    "p19_text_tokens_bpe" -> q((s, _) =>
      s.table("documents").select(col("doc_id"),
        TextAnalysis.bpeTokenCount(col("text")).as("n_bpe")).orderBy("doc_id")),
    // end-to-end curation: quality gate -> language gate -> exact-dedup
    // keep-first, one corpus scan + one shuffle (the 100 TB composition)
    "p20_curation" -> q((s, _) =>
      TextAnalysis.curate(s.table("documents"), minTokens = 40, lang = "en")
        .orderBy("h")),
    // ---- multimodal plumbing ----
    "p14_multimodal_meta" -> q((s, _) =>
      s.table("documents")
        .select(col("doc_id"), octet_length(col("text").cast("binary")).as("nbytes"))
        .orderBy("doc_id")),
    "p15_multimodal_features" -> q((s, _) => {
      val items = Multimodal.mediaFromDocuments(s, s.table("documents"))
      Multimodal.extractFeatures(items).toDF()
        .select(col("id"), col("nBytes").as("n_bytes"), col("contentHash").as("content_hash"))
        .orderBy("id")
    }),
    // ---- skew-aware aggregation (exercises Partitioning.saltedAgg) ----
    // events.event_type is a hot low-cardinality key (a handful of values
    // over the whole corpus) — exactly the shape where one reducer would
    // take the entire hot group. The salted two-phase spreads each key over
    // 32 reducers; sums/counts are algebraic, so the result is exact and
    // oracle-checked.
    "p17_salted_agg" -> q((s, _) =>
      Partitioning.saltedAgg(s.table("events"), Seq("event_type"), saltBuckets = 32)(
        partial = Seq(count(lit(1)).as("pn"),
          sum(expr("CAST(round(value*100) AS BIGINT)")).as("pv")),
        fin = Seq(sum("pn").cast("long").as("n"),
          sum("pv").cast("long").as("val_cents")))
        .orderBy("event_type")),
    // ---- skew-aware join (exercises Partitioning.saltedJoin, round 4) ----
    // events.user_id concentrates on few hot customers relative to the
    // customer dim — the known-skew big⋈small shape. The salt rides in the
    // join keys (PlanAudit asserts it), spreading each hot key over 8
    // reducers; the post-join aggregate is algebraic, so the result is
    // exact and oracle-checked against the unsalted join.
    "p18_salted_join" -> q((s, _) =>
      Partitioning.saltedJoin(s.table("events"), s.table("customer"),
          bigKey = "user_id", smallKey = "c_custkey", saltBuckets = 8)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).cast("long").as("n"),
          sum(expr("CAST(round(value*100) AS BIGINT)")).cast("long").as("val_cents"))
        .orderBy("c_mktsegment")),
    // ---- benchmark decontamination (round 4): training docs sharing word
    // 5-grams with the eval subset (doc_id < 50). Eval-gram set broadcast —
    // the 100 TB shape (eval sets are small; the corpus never re-shuffles
    // except the final per-doc count).
    "p22_decontam" -> q((s, _) => {
      val docs = s.table("documents")
      Decontamination.sharedGrams(
          docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50), n = 5)
        .orderBy("doc_id")
    }),
    // ---- deterministic stratified sampling (round 4): downsample the
    // dominant language to 2/16, keep the tail at 8/16 — md5-keyed, so the
    // kept set is bit-identical across engines/runs/cluster sizes.
    "p23_stratified_sample" -> q((s, _) =>
      Sampling.stratifiedSample(s.table("documents"), col("doc_id"),
          col("lang"), rates = Map("en" -> 2), defaultRate16 = 8)
        .select("doc_id", "lang", "source").orderBy("doc_id")),
    // ---- dedup clusters (round 4): connected components over the exact
    // n-gram-Jaccard near-dup graph at >= 0.5 — the step that turns pair
    // output into "keep one per cluster". Large-star/small-star, O(log² n)
    // rounds; the oracle closes the same edge set with a recursive CTE.
    "p24_dedup_components" -> q((s, _) =>
      Components.dedupClusters(s, s.table("documents")).orderBy("doc_id")),
    // ---- leakage-free split + cluster-size downweighting (r7): the two
    // standard consumers of the near-dup clustering. A train/test split
    // hashed on the CLUSTER id (not the doc id) — near-duplicates can
    // never straddle the split, the property a naive per-doc hash split
    // silently violates; plus the SemDeDup-style sampling weight
    // 1e6/cluster_size that downweights heavily-duplicated content
    // instead of dropping it. One window over the cluster labels (no
    // join); md5 split coin is cluster-size-independent and deterministic.
    "p50_leakfree_split" -> q((s, _) => {
      import org.apache.spark.sql.expressions.Window
      val labels = Components.dedupClusters(s, s.table("documents"))
        .select(col("doc_id"), col("component"))
      labels
        .withColumn("__csize",
          count(lit(1)).over(Window.partitionBy("component")))
        .select(col("doc_id"), col("component"),
          when(substring(md5(col("component").cast("string")), 1, 1) < "c",
            "train").otherwise("test").as("split"),
          round(lit(1000000.0) / col("__csize")).cast("bigint")
            .as("weight_micro"))
        .orderBy("doc_id")
    }),
    // ---- sequence packing (round 4): concatenate docs per source shard in
    // doc_id order and split every 256 whitespace tokens (sized so the sf fixtures actually cross sequence boundaries) — each doc
    // reports the training-sequence span it lands in. Window cumsum is
    // per-shard (PARTITION BY source), never a global single-partition sort.
    "p25_seq_pack" -> q((s, _) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source").orderBy("doc_id")
      s.table("documents")
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
        .withColumn("cum", sum("n_tokens").over(w))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          expr("(cum - n_tokens) div 256").as("seq_first"),
          greatest(expr("(cum - 1) div 256"),
            expr("(cum - n_tokens) div 256")).as("seq_last"))
        .orderBy("doc_id")
    }),
    // ---- PII scrubbing (round 4): the fixture has no natural PII, so the
    // entry injects a deterministic email+phone per doc and proves the
    // redaction fires on every row (n_email/n_phone >= 1 by construction —
    // never a vacuously-green oracle)
    "p26_pii_scrub" -> q((s, _) => {
      val aug = concat(col("text"), lit(" contact user"),
        col("doc_id").cast("string"), lit("@example.com or +1 555-01"),
        (col("doc_id") % 100).cast("string"), lit(" now"))
      // one linear-scan kernel instead of four regex passes (scrub + two
      // extract_all counts): 7.8 s -> sub-second at sf≈1. The kernel is
      // property-checked byte-identical to the regex path
      // (ExpressionsSpec), and this oracle row re-proves it every round.
      s.table("documents")
        .select(col("doc_id"), call_function("pii_scrub", aug).as("__k"))
        .select(col("doc_id"),
          md5(element_at(col("__k"), 1)).as("scrubbed_h"),
          element_at(col("__k"), 2).cast("int").as("n_email"),
          element_at(col("__k"), 3).cast("int").as("n_phone"))
        .orderBy("doc_id")
    }),
    // ---- within-doc repetition signal (round 4): Gopher-style repetitive-
    // document gate — duplicate word-2-gram fraction in basis points. Zero
    // shuffles; scales as a pure scan.
    "p27_doc_repetition" -> q((s, _) =>
      TextAnalysis.repetitionSignals(s.table("documents")).orderBy("doc_id")),
    // ---- corpus vocabulary (round 4): token frequency top-k — the vocab/
    // BPE-training precursor. explode -> partial-agg groupBy (map-side
    // combine) -> TakeOrderedAndProject; one shuffle keyed by token.
    "p28_vocab_topk" -> q((s, _) =>
      s.table("documents")
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).cast("long").as("n"))
        .orderBy(col("n").desc, col("tok")).limit(100)),
    // ---- line-level dedup (round 4): C4-style "remove duplicate lines
    // across the corpus, keep first occurrence". The fixture has no
    // newlines, so the entry materializes line boundaries deterministically
    // (every ' table ' becomes one) — same construction on the oracle side,
    // so the dedup itself is what's checked, never vacuously.
    "p29_line_dedup" -> q((s, _) =>
      Dedup.lineDedup(
          s.table("documents").withColumn("text",
            expr("replace(text, ' table ', '\n')")))
        .select(col("doc_id"), col("kept_lines"), md5(col("text")).as("h"))
        .orderBy("doc_id")),
    // ---- context-window chunking (round 4): sliding token windows with
    // overlap, the long-doc training prep; window 32 / stride 24 so the
    // fixture's ~50-token docs produce real multi-chunk output.
    // Sort the INPUT docs, not the chunk rows (r7, the p35 precedent): a
    // trailing orderBy makes the range sampler re-execute the whole
    // chunk+md5 upstream (measured 2.3 s vs 1.1 s unsorted at sf≈1);
    // sorting docs first only re-samples the parquet scan, and the
    // (doc_id, chunk_idx) order then holds by construction — posexplode
    // emits chunk_idx ascending within each doc row, and no exchange
    // follows the sort.
    "p30_chunk_windows" -> q((s, _) =>
      TextAnalysis.chunkWindows(s.table("documents").orderBy("doc_id"))
        .select(col("doc_id"), col("chunk_idx"), col("n_toks"),
          md5(col("chunk")).as("h"))),
    // ---- per-source quality gate (round 4): keep the top 25% of each
    // source by deterministic stopword-ratio score — domain-stratified
    // curation, one source-keyed shuffle.
    "p31_quality_gate" -> q((s, _) =>
      TextAnalysis.topQualityPerSource(s.table("documents"))
        .orderBy("doc_id")),
    // ---- mixture rebalancing (round 4): uniform source mixture with
    // rates derived from the corpus itself (vs p23's caller-given rates);
    // deterministic hash-rank selection inside each source.
    "p33_balance_sources" -> q((s, _) =>
      Sampling.balanceSources(s.table("documents"))
        .select("doc_id", "source").orderBy("doc_id")),
    // ---- unigram-LM surprisal (round 4): the model-free perplexity
    // filter — per-doc mean -ln p(token) in micro-nats against the
    // corpus's own unigram distribution; integer-quantized per token so
    // the distributed sum is order-free.
    "p34_unigram_surprisal" -> q((s, _) =>
      TextAnalysis.unigramSurprisal(s.table("documents")).orderBy("doc_id")),
    // ---- int8 embedding quantization (round 4): 4x vector compression
    // for the ANN scale path; pure codegen transform. The declared entry
    // serializes the int8 vector to CSV (r5) because the driver's
    // comparator sorts columns before hashing and cannot hash arrays;
    // the operator itself (quantizeInt8) still returns the typed array.
    // Sort BEFORE the projection: orderBy after would make the range
    // sampler recompute the (interpreted higher-order) transform a second
    // time, and the post-shuffle projection parallelizes over the sort
    // partitions instead of the few input splits. Measured sf≈3: 0.84 s
    // vs 7.8 s sort-last. Ordering survives the per-row projection.
    "p35_quantize_int8" -> q((s, _) =>
      Similarity.quantizeInt8Csv(s.table("embeddings").orderBy("vec_id"))),
    // ---- incremental (cross-corpus) exact dedup (r6): dedup a new batch
    // against the already-trained corpus without rescanning it — the old
    // side collapses to distinct 16-byte hashes before a left-anti join.
    // The fixture has no organic dups, so the entry constructs them: the
    // new batch is docs 200+, the old corpus docs < 250 (a 50-doc
    // overlap), and every new doc with doc_id % 10 = 3 additionally takes
    // the text of doc_id - 200 — cross-id content matches only a
    // content-hash anti join can drop. 70 of 300 dropped at sf0.01;
    // never vacuous.
    "p32_dedup_incremental" -> q((s, _) => {
      val d = s.table("documents")
      val donor = d.select(col("doc_id").as("__did"), col("text").as("__dtext"))
      val newb = d.filter(col("doc_id") >= 200)
        .join(donor, col("__did") === col("doc_id") - 200, "left")
        .select(col("doc_id"), col("source"),
          when(col("doc_id") % 10 === 3 && col("doc_id") >= 250, col("__dtext"))
            .otherwise(col("text")).as("text"))
      Dedup.incrementalDedup(newb, d.filter(col("doc_id") < 250))
        .select("doc_id", "source").orderBy("doc_id")
    }),
    // ---- quality-aware cluster dedup (r6): p24 turns near-dup pairs into
    // clusters and keeps the MIN id; real curation keeps the best-written
    // member. One row per cluster: arg-max stopword-quality score, ties by
    // doc_id. 11 of 476 representatives differ from the min-id choice at
    // sf0.01 — the selection policy is really exercised, never vacuous.
    "p37_cluster_best_dedup" -> q((s, _) =>
      Components.dedupClustersBestQuality(s, s.table("documents"))
        .orderBy("doc_id")),
    // ---- token-budget mixture sampling (r6): cap each source at a TOKEN
    // budget (700) in deterministic hash order — training-mixture weights
    // are token weights, not doc counts (p33's equalized counts skew
    // toward long-doc sources). start_tok is the doc's offset in the
    // stratum's packed stream. Keeps 263/500 at sf0.01.
    "p38_token_budget_sample" -> q((s, _) =>
      Sampling.tokenBudgetSample(s.table("documents"), budgetTokens = 700)
        .orderBy("doc_id")),
    // ---- semantic dedup clusters (r6): the embedding-space twin of p24 —
    // near-dup PAIRS (p05's planted corpus + LSH + exact verify) closed
    // into transitive clusters with the same large-star/small-star CC, one
    // row per vector with its cluster label and keep flag. This is the op
    // a real pipeline runs ("semantic dedup"): pairs alone over-count,
    // clusters dedup. Scale shape: banded LSH candidate gen (never
    // all-pairs) + O(log² n) keyed CC rounds.
    "p39_semantic_clusters" -> q((s, dir) => {
      val emb = s.table("embeddings").select(col("vec_id"), col("embedding"))
      val planted = emb.select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x * (lit(1.0) + lit(0.01) * ((i + 1) % 2))).cast("float"))
          .as("embedding"))
      val corpus = emb.unionByName(planted)
      val n = 2 * s.table("embeddings").queryExecution.analyzed.stats.rowCount
        .map(_.toLong)
        .orElse(Engine.parquetRowCount(s"$dir/embeddings.parquet"))
        .getOrElse(emb.count())
      val p = math.max(4, math.min(Similarity.planesFor(math.max(1, n),
        targetBucketSize = 32), 12))
      val pairs = Dedup.embeddingPairs(corpus, minCosine = 0.99,
        planesPerBand = p, bands = 5).select(col("d1"), col("d2"))
      Components.connectedComponents(corpus.select(col("vec_id")), pairs)
        .select(col("vec_id"), col("component"),
          (col("vec_id") === col("component")).as("is_kept"))
        .orderBy("vec_id")
    }),
    // ---- deterministic shard stats (r6): the training-shard writer step —
    // md5-hash shard assignment independent of input partitioning, per-
    // shard doc/token stats. The write path is repartition(n, shard) +
    // write with the same key.
    "p40_shard_stats" -> q((s, _) =>
      Sampling.shardStats(s.table("documents"), nShards = 16)),
    // ---- temperature mixture sampling (r6): per-domain quotas ∝ n^0.5
    // (alpha-flattened mixture). source is uniform in the fixture, so the
    // entry derives skewed domains first (head 25 / mid 100 / tail 375
    // docs) — quotas 22/44/85 of 150: every domain is a PROPER subset, the
    // flattening is really exercised (proportional would be 7/30/113).
    "p41_temperature_mix" -> q((s, _) => {
      val d = s.table("documents").withColumn("domain",
        when(col("source") === "src0", lit("head"))
          .when(col("source").isin("src1", "src2", "src3", "src4"), lit("mid"))
          .otherwise(lit("tail")))
      Sampling.temperatureMix(d, totalKeep = 150, srcCol = "domain")
        .orderBy("doc_id")
    }),
    // ---- semantic decontamination (r6): p22's embedding-space twin for
    // paraphrased leakage — corpus vectors within cosine 0.99 of ANY eval
    // vector. Reuses the p09/p21 planted-audit corpus (30 graded
    // near-copies per probe at cosine > 0.9999, cross pairs < 0.52), the
    // 5 raw probes as the eval set: exactly the 150 planted copies flag,
    // non-vacuously thresholded. Broadcast eval side, kernel scan, one
    // per-vector max — the eval-is-tiny 100 TB shape.
    "p42_semantic_decontam" -> q((s, _) =>
      Decontamination.semanticContaminated(
          annAuditCorpus(s),
          s.table("embeddings").filter(col("vec_id") < 5)
            .select(col("vec_id").as("eval_id"), col("embedding")),
          minCosine = 0.99)
        .orderBy("vec_id")),
    // ---- span-level substring dedup (r7): the missing dedup modality —
    // cross-doc repeated 16-token spans removed, keep-first (doc-level
    // p01–p05 and line-level p29 exist; this is the boilerplate /
    // quoted-passage cutter). The fixture has no organic 16-token span
    // dups, so the entry constructs them deterministically, mirrored in
    // the oracle: docs ≡2 (mod 5) get a shared 16-token boilerplate
    // prefix (cross-doc dup — every copy but the first loses it), other
    // docs ≡3 (mod 7) get their own first 16 tokens appended (within-doc
    // dup — the appended copy is cut). 167 of 500 docs lose tokens at
    // sf0.01 (the constructed 156 plus organic span repeats); never
    // vacuous.
    "p43_span_dedup" -> q((s, _) => {
      val boiler = "copyright terms of service all rights reserved " +
        "privacy policy cookie consent subscribe newsletter follow us on"
      val first16 = concat_ws(" ",
        slice(TextAnalysis.tokens(col("text")), 1, 16))
      val aug = s.table("documents").select(col("doc_id"),
        when(col("doc_id") % 5 === 2, concat(lit(boiler), lit(" "), col("text")))
          .when(col("doc_id") % 7 === 3, concat(col("text"), lit(" "), first16))
          .otherwise(col("text")).as("text"))
      Dedup.spanDedup(aug, k = 16)
        .select(col("doc_id"), col("n_tokens"), col("kept_tokens"),
          md5(col("text")).as("h"))
        .orderBy("doc_id")
    }),
    // ---- multimodal perceptual near-dup (r7): p04's simhash dedup over
    // the opaque BINARY payload column — byte-shingle signatures, banded
    // pigeonhole-exact pairs at hamming <= 3. The corpus plants one
    // one-byte-edited copy per payload (first byte -> 'Z', id+1000000 —
    // the re-encoded/metadata-patched image stand-in): 482 of 500 planted
    // pairs land within hamming 3 (18 drift past the threshold — the
    // threshold really cuts) plus 91 organic near-dup pairs at sf0.01.
    "p44_multimodal_neardup" -> q((s, _) => {
      val base = s.table("documents").select(col("doc_id").as("id"),
        col("text"))
      val planted = base.select((col("id") + 1000000L).as("id"),
        concat(lit("Z"), expr("substring(text, 2)")).as("text"))
      val items = base.unionByName(planted)
        .select(col("id"), col("text").cast("binary").as("payload"))
      Multimodal.binarySimhashPairs(items, shingle = 4, maxHamming = 3)
        .select(col("d1"), col("d2"), col("hamming").cast("bigint").as("hamming"))
        .orderBy("d1", "d2")
    }),
    // ---- frame-level multimodal dedup (r7): the video/audio analog of
    // span dedup — fixed 64-byte ALIGNED frames per payload, global
    // keep-first by frame content (repeated intro/watermark/stock frames).
    // Construction: a 64-char banner frame prepended to items ≡0 mod 4
    // (occupying frame 0 exactly) + the fixture's organic exact-dup docs;
    // 148 of 500 items lose frames, 2 dedup to empty at sf0.01.
    "p51_frame_dedup" -> q((s, _) => {
      val items = s.table("documents").select(col("doc_id").as("id"),
        when(col("doc_id") % 4 === 0,
          concat(rpad(lit("INTROFRAME-watermark-banner"), 64, "x"), col("text")))
          .otherwise(col("text")).as("payload"))
      Multimodal.frameDedup(items, frameBytes = 64)
        .select(col("id"), col("n_frames"), col("kept_frames"),
          md5(col("payload")).as("h"))
        .orderBy("id")
    }),
    // ---- span-level eval-leakage scrub (r7): p22 flags whole docs by
    // n-gram overlap; this CUTS the leaked 16-token spans and keeps the
    // rest (p43's policy with "duplicate" = "present in the eval window
    // set"). Construction mirrored in the oracle: eval = docs < 50; train
    // docs ≡5 (mod 9) get eval doc (doc_id % 50)'s first 16 tokens
    // appended — the quoted-benchmark-item stand-in. Non-vacuous at
    // sf0.01: 50 of 450 train docs lose exactly their appended span.
    "p45_decontam_spans" -> q((s, _) => {
      val d = s.table("documents")
      val ev = d.filter(col("doc_id") < 50)
      val donor = ev.select(col("doc_id").as("__eid"),
        concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 16))
          .as("__espan"))
      val train = d.filter(col("doc_id") >= 50)
        .join(donor, col("__eid") === col("doc_id") % 50, "left")
        .select(col("doc_id"),
          when(col("doc_id") % 9 === 5,
            concat(col("text"), lit(" "), col("__espan")))
            .otherwise(col("text")).as("text"))
      Decontamination.scrubEvalSpans(train, ev, k = 16)
        .select(col("doc_id"), col("n_tokens"), col("kept_tokens"),
          md5(col("text")).as("h"))
        .orderBy("doc_id")
    }),
    // ---- per-source boilerplate removal (r7): frequency-threshold span
    // cut — a 16-token window present in >= 4 distinct docs of one source
    // is boilerplate and EVERY occurrence is removed (vs p43's keep-first
    // for duplicated prose). Construction: half the docs (md5 coin on
    // doc_id — source assignment correlates with doc_id % k in the
    // fixture, so modular selection would skew per-source counts) gain a
    // 16-token per-source footer; every source crosses the threshold and
    // exactly the 250 footered docs lose exactly their footer at sf0.01.
    "p46_boilerplate_spans" -> q((s, _) => {
      val footer = concat(lit("all content copyright "), col("source"),
        lit(" all rights reserved subscribe to "), col("source"),
        lit(" newsletter for daily updates and news"))
      val aug = s.table("documents").select(col("doc_id"), col("source"),
        when(substring(md5(col("doc_id").cast("string")), 1, 1) <= "7",
          concat(col("text"), lit(" "), footer))
          .otherwise(col("text")).as("text"))
      Dedup.boilerplateSpans(aug, k = 16, minDocs = 4)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("kept_tokens"), md5(col("text")).as("h"))
        .orderBy("doc_id")
    }),
    // ---- cross-source leakage matrix (r7): distinct shared 8-token
    // windows per source pair — organic overlap in the fixture (22 pairs,
    // top pair 137 shared windows), no planting needed.
    "p47_cross_source_overlap" -> q((s, _) =>
      Decontamination.crossCorpusOverlap(s.table("documents"), k = 8)
        .select(col("s1"), col("s2"),
          col("shared_windows").cast("bigint").as("shared_windows"))
        .orderBy("s1", "s2")),
    // ---- per-source length-tail trim (r7): rank-exact 10% tail cut per
    // source (the deterministic restatement of percentile length
    // filtering); 420 of 500 docs survive at sf0.01.
    "p48_length_trim" -> q((s, _) =>
      TextAnalysis.trimLengthTails(s.table("documents"), frac = 0.1)
        .orderBy("doc_id")),
    // ---- per-source novelty curve (r7): marginal new-window share per
    // source under lexicographic processing order; 12 of 20 sources have
    // novel < distinct at sf0.01 (cross-source dup clusters).
    "p49_source_novelty" -> q((s, _) =>
      Dedup.sourceNovelty(s.table("documents"), k = 8)
        .select(col("source"), col("total_occurrences").cast("bigint").as("total_occurrences"),
          col("distinct_windows").cast("bigint").as("distinct_windows"),
          col("novel_windows").cast("bigint").as("novel_windows"))
        .orderBy("source")),
    // ---- within-cluster exact kNN graph (r7 session 3): the neighbor-list
    // step a semantic-dedup / curriculum pipeline runs AFTER cluster
    // assignment — per cluster, each vector's exact top-3 by cosine. The
    // cluster key is (label, md5-shard): the fixture's label stands in for
    // the upstream semantic assignment, and the deterministic md5 sub-shard
    // (the p40 hash, % 16) is the PRODUCTION CAP on cluster size — labels
    // are a fixed vocabulary, so label-only clusters grow linearly with the
    // corpus and the within-cluster quadratic would too; sub-sharding
    // bounds it (the standard ANN-graph recall tradeoff, declared as the
    // operator's semantics). Scale shape: ONE co-partitioned join on the
    // composite key (no broadcast of the fact side), bounded per-cluster
    // quadratic, one src-keyed row_number window. Never all-pairs.
    "p52_cluster_knn" -> q((s, _) => {
      import org.apache.spark.sql.expressions.Window
      val shard = (conv(substring(md5(col("vec_id").cast("string")), 1, 6),
        16, 10).cast("long") % 16).as("shard")
      val emb = s.table("embeddings").select(col("label"), shard,
        col("vec_id"), col("embedding"))
      val a = emb.select(col("label"), col("shard"),
        col("vec_id").as("src"), col("embedding").as("ea"))
      val b = emb.select(col("label"), col("shard"),
        col("vec_id").as("dst"), col("embedding").as("eb"))
      val pairs = a.join(b, Seq("label", "shard"))
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"),
          GraftFunctions.cosine_sim(col("ea"), col("eb")).as("cos"))
      val w = Window.partitionBy("src").orderBy(col("cos").desc, col("dst"))
      pairs.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
        .select(col("src"), col("rk").cast("bigint").as("rk"), col("dst"),
          round(col("cos") * 1000000).cast("bigint").as("cos_micro"))
        .orderBy("src", "rk")
    }),
    // ---- char-entropy spam gate (r7 session 3): per-doc Shannon entropy
    // over characters in ONE codegen byte scan (no explode — the kernel
    // sibling of p10's token counts); low-diversity spam (planted
    // deterministically on doc_id % 9 == 4) gates out far below the 4.0
    // bits threshold, and every clean doc sits >= 1.6e-3 away from the
    // boundary (probe), so the double gate is tie-free.
    "p53_entropy_gate" -> q((s, _) => {
      val aug = s.table("documents").select(col("doc_id"),
        when(col("doc_id") % 9 === 4, concat(lit("x "),
          expr("repeat('aaa bbb ', 24)"))).otherwise(col("text")).as("text"))
      aug.select(col("doc_id"),
          round(expr("char_entropy(text)") * 1000000).cast("bigint")
            .as("ent_micro"),
          (expr("char_entropy(text)") >= 4.0).as("kept"))
        .orderBy("doc_id")
    }),
    // ---- per-source tf-idf top terms (r7 session 3; r8 single-scan): the
    // corpus-characterization step of a mixture report — tf per (source,
    // term), df per term over distinct docs, score tf * ln((N+1)/(df+1)),
    // exact top-5 per source. Scale shape (the r7 verdict's one work-bound
    // >2× entry, fixed): ONE corpus scan through the `token_counts` kernel
    // (per-doc distinct-term frequencies in one byte pass), exploded and
    // partial-aggregated into a single vocab-sized (source, term) exchange
    // that BOTH the tf and df branches consume — each (doc, term) pair
    // appears exactly once, so count(*) is df with no distinct. The df
    // re-aggregation input is vocab-sized, the join is unhinted (AQE
    // broadcasts the df table while vocab ≪ corpus — the p46 boiler-join
    // posture), then one per-source window. Doc count from metadata,
    // never a count() job.
    "p54_tfidf_terms" -> q((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = s.table("documents")
      val n = docs.queryExecution.analyzed.stats.rowCount.map(_.toLong)
        .orElse(Engine.parquetRowCount(s"$dir/documents.parquet"))
        .getOrElse(docs.count())
      val entries = docs
        .select(col("source"), explode(expr("token_counts(text)")).as("e"))
        .select(col("source"), col("e.term").as("term"), col("e.cnt").as("cnt"))
      val vocabST = entries.groupBy("source", "term")
        .agg(sum("cnt").as("tf"), count(lit(1)).as("docs"))
      // ReuseExchange only fires when both consumers keep the SAME
      // aggregate list below the shared exchange — so each branch must
      // reference BOTH aggregates or column pruning diverges the subtrees
      // back into two corpus scans (PlanAudit pins the reuse). least(docs,
      // tf) = docs and greatest(tf, docs) = tf identically: every (doc,
      // term) entry has cnt >= 1, hence tf = sum(cnt) >= count(*) = docs.
      val dfT = vocabST.groupBy("term")
        .agg(sum(least(col("docs"), col("tf"))).as("df"))
      val scored = vocabST.join(dfT, Seq("term"))
        .withColumn("tfidf", greatest(col("tf"), col("docs")) *
          log((lit(n) + lit(1.0)) / (col("df") + lit(1.0))))
      val w = Window.partitionBy("source").orderBy(col("tfidf").desc, col("term"))
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
        .select(col("source"), col("rk").cast("bigint").as("rk"), col("term"),
          round(col("tfidf") * 1000000).cast("bigint").as("tfidf_micro"))
        .orderBy("source", "rk")
    }),
    // ---- curriculum quality bins (r7 session 3): exact quartile
    // thresholds of doc length → 4 curriculum bins, the deterministic
    // restatement of percentile-bucketed data ordering. Scale shape: ONE
    // distributed exact-percentile aggregation (Spark's Percentile
    // partial-aggregates a value→count map, memory bounded by DISTINCT
    // lengths, never a global sort), the 1-row threshold frame broadcast
    // back, one assignment scan. Both engines interpolate quantiles with
    // the same (1-f)*a + f*b formula on the same integers → identical
    // doubles, so the strict `>` bin edges are tie-free by construction.
    "p55_quality_bins" -> q((s, _) => {
      val docs = s.table("documents")
      val th = docs.agg(expr(
        "percentile(n_chars, array(0.25, 0.5, 0.75))").as("q"))
      docs.crossJoin(broadcast(th)).select(col("doc_id"),
          (lit(1) + (col("n_chars") > element_at(col("q"), 1)).cast("int")
            + (col("n_chars") > element_at(col("q"), 2)).cast("int")
            + (col("n_chars") > element_at(col("q"), 3)).cast("int"))
            .cast("bigint").as("bin"),
          round(element_at(col("q"), 1) * 100).cast("bigint").as("q1_c"),
          round(element_at(col("q"), 3) * 100).cast("bigint").as("q3_c"))
        .orderBy("doc_id")
    }),
    // ---- metadata-conflict detection (r7 session 3): content-identical
    // docs whose lang/source labels DISAGREE — the dedup-bookkeeping
    // signal that keep-first dedup silently destroys label information
    // (a mirror crawl re-tagged 20% of docs here, the p43/p44 planting
    // convention). ONE content-hash shuffle; count-distinct partials
    // combine map-side. Scale: hash keys move, never text.
    "p56_label_conflicts" -> q((s, _) => {
      val docs = s.table("documents")
      val mirror = docs.filter(col("doc_id") % 5 === 1)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
          when(col("doc_id") % 10 === 1, lit("und")).otherwise(col("lang")).as("lang"),
          lit("mirror").as("source"))
      val aug = docs.select(col("doc_id"), col("text"), col("lang"), col("source"))
        .unionByName(mirror)
      aug.groupBy(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_lang"),
          countDistinct(col("source")).as("n_source"),
          min(col("doc_id")).as("first_id"))
        .filter(col("n_docs") > 1)
        .select(col("h"), col("n_docs"), col("n_lang"), col("n_source"),
          col("first_id"),
          (col("n_lang") > 1 || col("n_source") > 1).as("conflict"))
        .orderBy("h")
    }),
    // ---- centroid-cohesion report (r7 session 3): per cluster (label),
    // the element-wise-mean centroid and every member's cosine to it —
    // the outlier-detection / cluster-quality step after assignment.
    // Scale shape: ONE posexplode scan partial-aggregated to (label, pos)
    // means (centroid frame is |labels|×dim, tiny), centroids rebuilt
    // with the sort-after-collect pattern and BROADCAST back, cosines in
    // one kernel scan, per-label aggregation. Centroids are cast to FLOAT
    // on both sides so the kernel input is bit-identical (the p39 oracle
    // convention); double accumulation-order noise is absorbed by micro
    // quantization.
    "p57_centroid_cohesion" -> q((s, _) => {
      val e = s.table("embeddings")
      val pos = e.select(col("label"),
        posexplode(col("embedding")).as(Seq("p", "v")))
      val cen = pos.groupBy("label", "p")
        .agg(avg(col("v").cast("double")).as("c"))
        .groupBy("label")
        .agg(transform(array_sort(collect_list(struct(col("p"), col("c")))),
          st => st.getField("c").cast("float")).as("cen"))
      e.join(broadcast(cen), Seq("label"))
        .select(col("label"),
          GraftFunctions.cosine_sim(col("embedding"), col("cen")).as("cos"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          round(avg(col("cos")) * 1000000).cast("bigint").as("avg_cos_micro"),
          round(min(col("cos")) * 1000000).cast("bigint").as("min_cos_micro"))
        .orderBy("label")
    }),
    // ---- cross-modal referential audit (r7 session 3): the pipeline-
    // hygiene join between the text corpus and its embedding store —
    // per source: docs with vectors, docs MISSING vectors, orphan
    // vectors (no doc). The fixture aligns ids 1:1, so the entry
    // deterministically drops vec_id % 7 == 3 to exercise the missing
    // side and plants +2000000-shifted orphans from % 11 == 5. ONE
    // full-outer equi-join on the id (co-partitioned), then a keyed agg.
    "p58_modality_audit" -> q((s, _) => {
      val docs = s.table("documents").select(col("doc_id"), col("source"))
      val vecs = s.table("embeddings").filter(col("vec_id") % 7 =!= 3)
        .select(col("vec_id"))
        .unionByName(s.table("embeddings").filter(col("vec_id") % 11 === 5)
          .select((col("vec_id") + 2000000L).as("vec_id")))
      docs.join(vecs, docs("doc_id") === vecs("vec_id"), "full_outer")
        .select(coalesce(col("source"), lit("__orphan__")).as("source"),
          col("doc_id"), col("vec_id"))
        .groupBy("source")
        .agg(count(col("doc_id")).as("n_docs"),
          count(col("vec_id")).as("n_vecs"),
          count(when(col("vec_id").isNull, 1)).as("missing_vec"),
          count(when(col("doc_id").isNull, 1)).as("orphan_vec"))
        .orderBy("source")
    }),
    // ---- removal-provenance ledger (r8 — VERDICT r7 #5): the audit
    // surface of a curation pipeline — every destructive step (exact
    // dedup → min-token gate → span dedup) emits (doc_id, op, reason,
    // detail, removed_tokens) rows, so input tokens = kept + ledgered is
    // provable per document (the spec asserts it; the oracle recomputes
    // the full ledger brute-force — the p43 precedent, same deterministic
    // span planting so every op has real work). Scale shape: each ledger
    // is a by-product of its op's own plan (window complement / inverse
    // filter / n_tokens − kept_tokens) — zero extra corpus passes.
    "p59_provenance_ledger" -> q((s, _) => {
      val boiler = "copyright terms of service all rights reserved " +
        "privacy policy cookie consent subscribe newsletter follow us on"
      val first16 = concat_ws(" ",
        slice(TextAnalysis.tokens(col("text")), 1, 16))
      val aug = s.table("documents").select(col("doc_id"),
        when(col("doc_id") % 5 === 2, concat(lit(boiler), lit(" "), col("text")))
          .when(col("doc_id") % 7 === 3, concat(col("text"), lit(" "), first16))
          .otherwise(col("text")).as("text"))
      val (_, ledger) = Ledger.curationChain(aug, minTokens = 40, k = 16)
      ledger.select(col("doc_id"), col("op"), col("reason"),
          col("detail").cast("bigint").as("detail"),
          col("removed_tokens").cast("bigint").as("removed_tokens"))
        .orderBy("doc_id", "op")
    }),
    // ---- dataset card (r8): the per-source corpus MANIFEST a training
    // run publishes — doc/dup counts, token totals, exact median length,
    // language mix — in ONE token_set_hits kernel scan (token count + all
    // four language hit sets from a single byte pass, the p12/p31 shape)
    // feeding one source-keyed aggregation. The exact median partial-
    // aggregates a value→count map (p55's percentile posture, memory
    // bounded by distinct lengths); dup counts are count − distinct-hash.
    // Everything map-side combines; no join, no window, no second scan.
    "p60_dataset_card" -> q((s, _) => {
      val sets = TextAnalysis.langStopwords
      val h = TextAnalysis.tokenSetHits(lower(col("text")), sets.map(_._2))
      val base = s.table("documents")
        .select(col("source"), md5(col("text")).as("__h"), h.as("__hits"))
        .select(col("source"), col("__h"),
          element_at(col("__hits"), 1).cast("long").as("nt"),
          element_at(col("__hits"), 2).as("__en"),
          element_at(col("__hits"), 3).as("__de"),
          element_at(col("__hits"), 4).as("__fr"),
          element_at(col("__hits"), 5).as("__es"))
        .withColumn("pred", expr(
          """CASE WHEN __en >= __de AND __en >= __fr AND __en >= __es THEN 'en'
            |WHEN __de >= __fr AND __de >= __es THEN 'de'
            |WHEN __fr >= __es THEN 'fr' ELSE 'es' END""".stripMargin))
      base.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          (count(lit(1)) - countDistinct(col("__h"))).as("dup_docs"),
          sum("nt").as("total_tokens"),
          (expr("percentile(nt, 0.5)") * 10).cast("bigint").as("median_tokens_x10"),
          sum(when(col("pred") === "en", 1L).otherwise(0L)).as("en_docs"),
          sum(when(col("pred") === "de", 1L).otherwise(0L)).as("de_docs"),
          sum(when(col("pred") === "fr", 1L).otherwise(0L)).as("fr_docs"),
          sum(when(col("pred") === "es", 1L).otherwise(0L)).as("es_docs"))
        .orderBy("source")
    }),
    // ---- positional alignment at scale (r8): q140's POSITIONAL JOIN
    // semantics (row N ⋈ row N, shorter side NULL-padded) WITHOUT the
    // single-task unpartitioned window — range-partitioned parallel sort
    // + RDD.zipWithIndex per side (one light count job for offsets), then
    // a plain full-outer equi-join on the position. Closes the last
    // structurally one-task surface in the engine: the SQL form stays the
    // deterministic window (documented), this operator is the 100 TB
    // path. The vec side is filtered so NULL padding is exercised.
    "p61_positional_align" -> q((s, _) => {
      val docs = s.table("documents").select(col("doc_id"))
      val vecs = s.table("embeddings").filter(col("vec_id") % 7 =!= 3)
        .select(col("vec_id"))
      Partitioning.positionalJoin(docs, Seq(col("doc_id")),
          vecs, Seq(col("vec_id").desc))
        .select(col("pos").cast("bigint").as("pos"), col("doc_id"), col("vec_id"))
        .orderBy("pos")
    }),
    // r9 (VERDICT r8 #4): incremental minhash dedup — tonight's "crawl"
    // (doc_id % 5 == 0) dedups against a PERSISTED band index of the rest
    // of the corpus (built once per data dir); only cross new×old pairs
    // emerge, and the old corpus text is never re-read (PlanAudit asserts
    // one documents scan). Correctness argument = p03's — every
    // qualifying fixture pair sits at j >= 0.9 where the 16×4 banding's
    // miss probability is ~5e-8 — restricted to the cross pair set.
    "p62_minhash_incremental" -> q((s, dir) => {
      val docs = s.table("documents")
      val idx = "graft_mhidx_" + dirKey(dir)
      if (!s.catalog.tableExists(idx))
        Dedup.buildMinhashIndex(docs.filter(col("doc_id") % 5 =!= 0), idx)
      Dedup.minhashPairsIncremental(docs.filter(col("doc_id") % 5 === 0),
          idx, threshold = 0.5)
        .select(col("d1"), col("d2"),
          round(col("jaccard") * 10000).cast("bigint").as("jac_bp"))
        .orderBy("d1", "d2")
    }),
    // r9: incremental embedding near-dup — p05's planted copies play the
    // increment, the base vectors the indexed corpus; output is exactly
    // the n (original, copy) cross pairs at cosine >= 0.99 (p05's
    // deterministic-recall argument, cross-restricted). (d1, d2) oriented
    // (old, new) to mirror the oracle's a.vec_id < b.vec_id.
    "p63_embedding_incremental" -> q((s, dir) => {
      val base = s.table("embeddings").select(col("vec_id"), col("embedding"))
      val planted = base.select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x * (lit(1.0) + lit(0.01) * ((i + 1) % 2))).cast("float"))
          .as("embedding"))
      val n = 2 * s.table("embeddings").queryExecution.analyzed.stats.rowCount
        .map(_.toLong)
        .orElse(Engine.parquetRowCount(s"$dir/embeddings.parquet"))
        .getOrElse(base.count())
      val p = math.max(4, math.min(Similarity.planesFor(math.max(1, n),
        targetBucketSize = 32), 12))
      val idx = "graft_embidx_" + dirKey(dir)
      if (!s.catalog.tableExists(idx))
        Dedup.buildEmbeddingIndex(base, idx, planesPerBand = p, bands = 5)
      Dedup.embeddingPairsIncremental(planted, idx, minCosine = 0.99,
          planesPerBand = p, bands = 5)
        .select(col("d2").as("d1"), col("d1").as("d2"),
          round(col("cosine") * 1000000).cast("bigint").as("cos_micro"))
        .orderBy("d1", "d2")
    }),
    // r13 (VERDICT r12 #2): occupancy-triggered embedding-index
    // maintenance — build at a DELIBERATELY STALE geometry (4 planes per
    // band, what the sizing rule picks for a corpus 2^5× smaller), let
    // maintainEmbeddingIndex measure occupancy and re-band from the
    // index's own stored vectors (zero corpus scans — the op never sees
    // the embeddings table), then run p63's planted-copy increment
    // against the MAINTAINED index. Oracle = p63's exact-cosine pair
    // set: the planted copies are duplicate-grade (cosine ≥ 0.99), so
    // LSH recall is 1.0 at both the stale and rebuilt geometries — the
    // oracle pins that maintenance preserves the pair contract while the
    // spec pins the occupancy/geometry mechanics.
    "p65_embedding_index_maint" -> q((s, dir) => {
      val base = s.table("embeddings").select(col("vec_id"), col("embedding"))
      val planted = base.select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x * (lit(1.0) + lit(0.01) * ((i + 1) % 2))).cast("float"))
          .as("embedding"))
      val idx = "graft_embmaint_" + dirKey(dir)
      if (!s.catalog.tableExists(idx))
        Dedup.buildEmbeddingIndex(base, idx, planesPerBand = 4, bands = 5)
      // occupancyFactor 0: always-rebuild-when-undersized, so the entry
      // is deterministic at every sf (the sizing rule's pNew > 4 at any
      // fixture size); a second run finds meta at pNew and no-ops
      Dedup.maintainEmbeddingIndex(s, idx, bands = 5, targetBucket = 32,
        occupancyFactor = 0.0, currentPlanesPerBand = 4)
      val p = s.table(idx + "_meta").filter(col("k") === "planes_per_band")
        .head().getLong(1).toInt
      Dedup.embeddingPairsIncremental(planted, idx, minCosine = 0.99,
          planesPerBand = p, bands = 5)
        .select(col("d2").as("d1"), col("d1").as("d2"),
          round(col("cosine") * 1000000).cast("bigint").as("cos_micro"))
        .orderBy("d1", "d2")
    }),
    // r13: the minhash twin — re-band the stored window-hash sets at
    // (128, 16) (r 4 → 8 halves random band collisions) and run p62's
    // increment at the maintained geometry; oracle = p62's exact-Jaccard
    // pair set (duplicate-grade fixture pairs keep recall 1 at any r).
    "p66_minhash_index_maint" -> q((s, dir) => {
      val docs = s.table("documents")
      val idx = "graft_mhmaint_" + dirKey(dir)
      if (!s.catalog.tableExists(idx))
        Dedup.buildMinhashIndex(docs.filter(col("doc_id") % 5 =!= 0), idx)
      Dedup.maintainMinhashIndex(s, idx, numHashes = 128, bands = 16,
        targetBucket = 1, occupancyFactor = 0.0)
      Dedup.minhashPairsIncremental(docs.filter(col("doc_id") % 5 === 0),
          idx, threshold = 0.5, numHashes = 128, bands = 16)
        .select(col("d1"), col("d2"),
          round(col("jaccard") * 10000).cast("bigint").as("jac_bp"))
        .orderBy("d1", "d2")
    }),
    // ---- URL canonicalization + URL-level dedup (r10): the cosmetic-
    // variant collapse a crawler pipeline runs before any content
    // hashing. Raw URLs are synthesized deterministically from doc_id
    // (the fixture has no URL column) with the variant classes the
    // canonicalizer must kill: upper-case scheme/host, default :80
    // ports, trailing slashes, utm_* tracking params, re-ordered query
    // params, fragments. Scale shape: one row-local codegen projection +
    // one hash shuffle on the canonical string.
    "p64_url_dedup" -> q((s, _) => {
      val d = s.table("documents").select(col("doc_id"))
      val m = (k: Int) => (col("doc_id") % k).cast("string")
      val url = concat(lit("HTTP://WWW.Site"), m(13), lit(".COM"),
        when(col("doc_id") % 3 === 0, lit(":80"))
          .when(col("doc_id") % 3 === 1, lit("")).otherwise(lit(":8080")),
        when(col("doc_id") % 9 === 0, lit("")) // path-less: query (if any) follows host directly
          .otherwise(concat(lit("/P/q"), m(11),
            when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")))),
        when(col("doc_id") % 4 === 0, concat(lit("?b=1&a="), m(7)))
          .when(col("doc_id") % 4 === 1,
            concat(lit("?a="), m(7), lit("&utm_source=x&b=1")))
          .when(col("doc_id") % 4 === 2, lit("?utm_campaign=only"))
          .otherwise(lit("")),
        when(col("doc_id") % 6 === 0, lit("#Sec")).otherwise(lit("")))
      UrlOps.urlDedup(d.withColumn("url", url), "doc_id", "url")
        .select(col("canon_url"), col("keeper").cast("bigint").as("keeper"),
          col("n_variants"))
        .orderBy("canon_url")
    }),
    // ---- end-to-end curation composite (r5): the whole training-data
    // prep as ONE declared plan — PII scrub (codegen kernel) → quality +
    // language gate (one token_set_hits scan) → corpus-wide exact dedup
    // keeping the first occurrence (content-hash window, retains text) →
    // benchmark decontamination (broadcast eval-gram anti join) → stable
    // ids + content hashes. Scale shape: two codegen scans of the corpus
    // (the gated frame feeds both the gram branch and the anti-join left;
    // materializing it measured slower than recomputing the scan at this
    // data shape — see the p34 note), one content-hash shuffle, one
    // broadcast join, one broadcast anti join. No fact-fact shuffle join
    // anywhere.
    "p36_curation_e2e" -> q((s, _) => {
      import org.apache.spark.sql.expressions.Window
      val scrubbed = s.table("documents")
        .select(col("doc_id"), TextAnalysis.scrubPii(col("text")).as("text"))
      val evalSet = scrubbed.filter(col("doc_id") < 50)
      val gated = TextAnalysis.gate(scrubbed.filter(col("doc_id") >= 50),
        minTokens = 40, lang = "en")
      val w = Window.partitionBy(col("__ch")).orderBy(col("doc_id"))
      val kept = gated.withColumn("__ch", md5(col("text")))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("doc_id"), col("text"), col("__ch"))
      // r17 examined, kept as-is: two one-pass rewrites (flag-agg over
      // all grams via left join + per-doc max, keyed (doc_id, __ch) and
      // keyed doc_id-with-max(__ch)) were A/B'd to replace the second
      // planning of this subtree under the broadcast; both LOST at sf≈1
      // (2.08 s → 2.56/2.25 s; the narrow-key form also plans a
      // SortAggregate because a string max has no fixed-width buffer)
      // and the (doc_id,__ch)-keyed form lost at sf0.1 too. The inner
      // join below drops non-matching grams inside the codegen'd
      // broadcast probe — cheaper than aggregating a flag across every
      // gram row. Numbers in OPTIMIZATION_r17.md.
      val bad = Decontamination.sharedGrams(kept, evalSet, n = 5).select("doc_id")
      // r17 (the p46 reuse recipe): re-deriving h as md5(text) keeps
      // `text` alive above the anti-join branch's window exchange, so
      // both uses of `kept` prune identically, the two hash(__ch)
      // exchange subtrees canonicalize equal, and AQE computes the
      // scrub+gate+window stage ONCE (final plan: ReusedExchange; was
      // two full documents scans + two scrubPii passes). h == __ch by
      // construction.
      kept.join(broadcast(bad), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), md5(col("text")).as("h"))
        .orderBy("doc_id")
    }),
    // ---- scalable as-of join (same oracle as q22's ASOF SQL) ----
    "p16_asof_merge" -> q((s, _) => {
      val events = s.table("events")
      val orders = s.table("orders")
      AsOfJoin.asof(events, orders,
          leftKey = "user_id", rightKey = "o_custkey",
          leftTime = "ts", rightTime = "o_orderdate",
          rightPayload = Seq("o_orderdate"))
        .select(col("event_id"), col("o_orderdate"))
        .orderBy("event_id").limit(100)
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "p01_dedup_exact" ->
      "SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS dups FROM documents GROUP BY h ORDER BY h",
    // p64 (r10): the same synthesis + canonicalization restated in duck
    // string/list functions; regexp_replace('/+$') is anchored so duck's
    // first-match default equals Spark's replace-all here.
    "p64_url_dedup" ->
      ("WITH u AS (SELECT doc_id, 'HTTP://WWW.Site' || (doc_id % 13) || '.COM' || " +
        "CASE doc_id % 3 WHEN 0 THEN ':80' WHEN 1 THEN '' ELSE ':8080' END || " +
        "CASE WHEN doc_id % 9 = 0 THEN '' ELSE '/P/q' || (doc_id % 11) || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END END || " +
        "CASE doc_id % 4 WHEN 0 THEN '?b=1&a=' || (doc_id % 7) " +
        "WHEN 1 THEN '?a=' || (doc_id % 7) || '&utm_source=x&b=1' " +
        "WHEN 2 THEN '?utm_campaign=only' ELSE '' END || " +
        "CASE WHEN doc_id % 6 = 0 THEN '#Sec' ELSE '' END AS url FROM documents), " +
        "nf AS (SELECT doc_id, CASE WHEN instr(url,'#')>0 THEN substr(url,1,instr(url,'#')-1) ELSE url END AS u FROM u), " +
        "sp AS (SELECT doc_id, lower(string_split(u,'://')[1]) AS scheme, string_split(u,'://')[2] AS rest FROM nf), " +
        // authority ends at the FIRST of '/' or '?' — a query with no
        // path must not fold into the host (mirrors UrlCanon r11 fix)
        "hp AS (SELECT doc_id, scheme, " +
        "CASE WHEN cutpos IS NOT NULL THEN substr(rest,1,cutpos-1) ELSE rest END AS hostport, " +
        "CASE WHEN cutpos IS NULL THEN '/' WHEN substr(rest,cutpos,1)='?' THEN '/' || substr(rest,cutpos) ELSE substr(rest,cutpos) END AS pathq " +
        "FROM (SELECT doc_id, scheme, rest, least(nullif(instr(rest,'/'),0), nullif(instr(rest,'?'),0)) AS cutpos FROM sp)), " +
        "hh AS (SELECT doc_id, scheme, " +
        "lower(CASE WHEN instr(hostport,':')>0 THEN substr(hostport,1,instr(hostport,':')-1) ELSE hostport END) AS host, " +
        "CASE WHEN instr(hostport,':')>0 THEN substr(hostport,instr(hostport,':')+1) ELSE '' END AS port, " +
        "CASE WHEN instr(pathq,'?')>0 THEN substr(pathq,1,instr(pathq,'?')-1) ELSE pathq END AS path0, " +
        "CASE WHEN instr(pathq,'?')>0 THEN substr(pathq,instr(pathq,'?')+1) ELSE '' END AS query FROM hp), " +
        "cc AS (SELECT doc_id, scheme || '://' || host || " +
        "CASE WHEN port = '' OR (scheme='http' AND port='80') OR (scheme='https' AND port='443') THEN '' ELSE ':' || port END || " +
        "CASE WHEN regexp_replace(path0, '/+$', '') = '' THEN '/' ELSE regexp_replace(path0, '/+$', '') END || " +
        "CASE WHEN len(list_filter(string_split(query,'&'), x -> x <> '' AND NOT starts_with(x,'utm_'))) > 0 " +
        "THEN '?' || array_to_string(list_sort(list_filter(string_split(query,'&'), x -> x <> '' AND NOT starts_with(x,'utm_'))), '&') " +
        "ELSE '' END AS canon_url FROM hh) " +
        "SELECT canon_url, CAST(min(doc_id) AS BIGINT) AS keeper, CAST(count(*) AS BIGINT) AS n_variants " +
        "FROM cc GROUP BY canon_url ORDER BY canon_url"),
    "p02_dedup_ngram_jaccard" ->
      ("SELECT a.doc_id AS d1, b.doc_id AS d2, " +
        "CAST(round(10000.0 * len(list_intersect(list_distinct(string_split(a.text,' ')), list_distinct(string_split(b.text,' ')))) " +
        "/ len(list_distinct(string_split(a.text,' ') || string_split(b.text,' ')))) AS BIGINT) AS jac_bp " +
        "FROM documents a JOIN documents b ON a.doc_id < b.doc_id AND substr(a.text,1,40) = substr(b.text,1,40) " +
        "ORDER BY d1, d2"),
    "p06_sim_dot_topk" ->
      ("SELECT e.vec_id, CAST(list_sum(list_transform(range(1, len(e.embedding)+1), " +
        "i -> CAST(round(CAST(e.embedding[i] AS DOUBLE)*1000) AS BIGINT) * CAST(round(CAST(q.embedding[i] AS DOUBLE)*1000) AS BIGINT))) AS BIGINT) AS dot " +
        "FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q " +
        "WHERE e.vec_id <> 0 ORDER BY dot DESC, e.vec_id LIMIT 20"),
    "p07_sim_cos_micro_topk" ->
      ("WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0), " +
        "s AS (SELECT e.vec_id, " +
        "list_sum(list_transform(range(1, len(e.embedding)+1), i -> CAST(round(CAST(e.embedding[i] AS DOUBLE)*1000) AS BIGINT) * CAST(round(CAST(q.embedding[i] AS DOUBLE)*1000) AS BIGINT))) AS dot, " +
        "list_sum(list_transform(range(1, len(e.embedding)+1), i -> CAST(round(CAST(e.embedding[i] AS DOUBLE)*1000) AS BIGINT) * CAST(round(CAST(e.embedding[i] AS DOUBLE)*1000) AS BIGINT))) AS nb, " +
        "list_sum(list_transform(range(1, len(q.embedding)+1), i -> CAST(round(CAST(q.embedding[i] AS DOUBLE)*1000) AS BIGINT) * CAST(round(CAST(q.embedding[i] AS DOUBLE)*1000) AS BIGINT))) AS na " +
        "FROM embeddings e, q WHERE e.vec_id <> 0) " +
        "SELECT vec_id, CAST(round(1000000.0 * CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))) AS BIGINT) AS cos_micro " +
        "FROM s ORDER BY cos_micro DESC, vec_id LIMIT 20"),
    "p10_text_tokens" ->
      "SELECT doc_id, len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens, n_chars FROM documents ORDER BY doc_id",
    "p11_text_quality" ->
      ("SELECT doc_id, len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens, " +
        "length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS punct_cnt, " +
        "CAST(round(10000.0 * len(list_filter(list_filter(string_split(text,' '), x -> x <> ''), t -> list_contains(['the','a','of','and','to','in','is'], t))) " +
        "/ len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS stop_bp " +
        "FROM documents ORDER BY doc_id"),
    "p12_text_langid" ->
      ("WITH t AS (SELECT doc_id, list_filter(string_split(lower(text),' '), x -> x <> '') AS toks FROM documents), " +
        "h AS (SELECT doc_id, " +
        "len(list_filter(toks, w -> list_contains(['the','and','of','to','a','in','is'], w))) AS en, " +
        "len(list_filter(toks, w -> list_contains(['der','die','das','und','ist','nicht'], w))) AS de, " +
        "len(list_filter(toks, w -> list_contains(['le','la','les','et','est','une'], w))) AS fr, " +
        "len(list_filter(toks, w -> list_contains(['el','la','los','y','es','una'], w))) AS es FROM t) " +
        "SELECT doc_id, CASE WHEN en >= de AND en >= fr AND en >= es THEN 'en' " +
        "WHEN de >= fr AND de >= es THEN 'de' WHEN fr >= es THEN 'fr' ELSE 'es' END AS pred " +
        "FROM h ORDER BY doc_id"),
    "p13_text_fingerprint" ->
      "SELECT doc_id, md5(trim(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))) AS fp FROM documents ORDER BY doc_id",
    "p14_multimodal_meta" ->
      "SELECT doc_id, octet_length(CAST(text AS BLOB)) AS nbytes FROM documents ORDER BY doc_id",
    "p17_salted_agg" ->
      ("SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS val_cents " +
        "FROM events GROUP BY event_type ORDER BY event_type"),
    "p18_salted_join" ->
      ("SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS val_cents " +
        "FROM events e JOIN customer c ON e.user_id = c.c_custkey " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    "p19_text_tokens_bpe" ->
      ("SELECT doc_id, len(regexp_extract_all(text, " +
        "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS n_bpe FROM documents ORDER BY doc_id"),
    "p20_curation" ->
      ("WITH t AS (SELECT doc_id, text, " +
        "list_filter(string_split(lower(text),' '), x -> x <> '') AS ltoks, " +
        "len(list_filter(string_split(text,' '), x -> x <> '')) AS n_tokens FROM documents), " +
        "h AS (SELECT doc_id, text, n_tokens, " +
        "len(list_filter(ltoks, w -> list_contains(['the','and','of','to','a','in','is'], w))) AS en, " +
        "len(list_filter(ltoks, w -> list_contains(['der','die','das','und','ist','nicht'], w))) AS de, " +
        "len(list_filter(ltoks, w -> list_contains(['le','la','les','et','est','une'], w))) AS fr, " +
        "len(list_filter(ltoks, w -> list_contains(['el','la','los','y','es','una'], w))) AS es FROM t), " +
        "f AS (SELECT doc_id, text FROM h WHERE n_tokens >= 40 AND " +
        "(CASE WHEN en >= de AND en >= fr AND en >= es THEN 'en' " +
        "WHEN de >= fr AND de >= es THEN 'de' WHEN fr >= es THEN 'fr' ELSE 'es' END) = 'en') " +
        "SELECT md5(text) AS h, min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS dups " +
        "FROM f GROUP BY h ORDER BY h"),
    // the projected p15 columns (nbytes + content hash) are deterministic —
    // the codec STUB only feeds the dropped features column, so the
    // multimodal plumbing's Spark-side output is fully oracle-checkable
    "p15_multimodal_features" ->
      "SELECT doc_id AS id, octet_length(CAST(text AS BLOB)) AS n_bytes, md5(text) AS content_hash FROM documents ORDER BY id",
    "p16_asof_merge" ->
      "SELECT e.event_id, o.o_orderdate FROM events e ASOF JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts ORDER BY e.event_id LIMIT 100",
    // p24: the same thresholded near-dup edge set, transitively closed with
    // a recursive CTE — DuckDB computes the fixpoint the declarative way,
    // Spark the iterative star-contraction way; same components.
    "p24_dedup_components" ->
      ("WITH RECURSIVE p AS (SELECT * FROM (" +
        "SELECT a.doc_id AS d1, b.doc_id AS d2, " +
        "CAST(round(10000.0 * len(list_intersect(list_distinct(string_split(a.text,' ')), list_distinct(string_split(b.text,' ')))) " +
        "/ len(list_distinct(string_split(a.text,' ') || string_split(b.text,' ')))) AS BIGINT) AS jac_bp " +
        "FROM documents a JOIN documents b ON a.doc_id < b.doc_id AND substr(a.text,1,40) = substr(b.text,1,40)" +
        ") WHERE jac_bp >= 5000), " +
        "e AS (SELECT d1 AS u, d2 AS v FROM p UNION SELECT d2, d1 FROM p), " +
        "reach(n, m) AS (SELECT u, v FROM e UNION SELECT reach.n, e.v FROM reach JOIN e ON reach.m = e.u), " +
        "comp AS (SELECT n, min(m) AS mn FROM reach GROUP BY n) " +
        "SELECT d.doc_id, least(d.doc_id, coalesce(c.mn, d.doc_id)) AS component, " +
        "least(d.doc_id, coalesce(c.mn, d.doc_id)) = d.doc_id AS is_kept " +
        "FROM documents d LEFT JOIN comp c ON d.doc_id = c.n ORDER BY d.doc_id"),
    // p51 (r7): brute-force frame dedup — aligned 64-char chunks, global
    // keep-first by frame CONTENT (engine keys by md5 — content grouping
    // proves digest keying loses nothing), ordered string_agg reassembly.
    "p51_frame_dedup" ->
      ("WITH it AS (SELECT doc_id AS id, " +
        "CASE WHEN doc_id % 4 = 0 THEN rpad('INTROFRAME-watermark-banner', 64, 'x') || text ELSE text END AS p " +
        "FROM documents), " +
        "fr AS (SELECT id, i AS idx, substr(p, CAST(i * 64 + 1 AS INTEGER), 64) AS frame " +
        "FROM it, LATERAL (SELECT unnest(range(0, CAST(ceil(length(p) / 64.0) AS BIGINT))) AS i)), " +
        "r AS (SELECT id, idx, frame, row_number() OVER (PARTITION BY frame ORDER BY id, idx) AS rn FROM fr), " +
        "k AS (SELECT id, CAST(count(*) AS BIGINT) AS kept_frames, " +
        "string_agg(frame, '' ORDER BY idx) AS payload FROM r WHERE rn = 1 GROUP BY id) " +
        "SELECT it.id, CAST(ceil(length(it.p) / 64.0) AS BIGINT) AS n_frames, " +
        "CAST(coalesce(k.kept_frames, 0) AS BIGINT) AS kept_frames, " +
        "md5(coalesce(k.payload, '')) AS h " +
        "FROM it LEFT JOIN k ON it.id = k.id ORDER BY it.id"),
    // p50 (r7): p24's recursive-CTE clustering oracle with the split coin
    // and 1e6/cluster_size weight computed on the component label.
    "p50_leakfree_split" ->
      ("WITH RECURSIVE p AS (SELECT * FROM (" +
        "SELECT a.doc_id AS d1, b.doc_id AS d2, " +
        "CAST(round(10000.0 * len(list_intersect(list_distinct(string_split(a.text,' ')), list_distinct(string_split(b.text,' ')))) " +
        "/ len(list_distinct(string_split(a.text,' ') || string_split(b.text,' ')))) AS BIGINT) AS jac_bp " +
        "FROM documents a JOIN documents b ON a.doc_id < b.doc_id AND substr(a.text,1,40) = substr(b.text,1,40)" +
        ") WHERE jac_bp >= 5000), " +
        "e AS (SELECT d1 AS u, d2 AS v FROM p UNION SELECT d2, d1 FROM p), " +
        "reach(n, m) AS (SELECT u, v FROM e UNION SELECT reach.n, e.v FROM reach JOIN e ON reach.m = e.u), " +
        "comp AS (SELECT n, min(m) AS mn FROM reach GROUP BY n), " +
        "lab AS (SELECT d.doc_id, least(d.doc_id, coalesce(c.mn, d.doc_id)) AS component " +
        "FROM documents d LEFT JOIN comp c ON d.doc_id = c.n), " +
        "sz AS (SELECT doc_id, component, count(*) OVER (PARTITION BY component) AS csize FROM lab) " +
        "SELECT doc_id, component, " +
        "CASE WHEN substr(md5(CAST(component AS VARCHAR)), 1, 1) < 'c' THEN 'train' ELSE 'test' END AS split, " +
        "CAST(round(1000000.0 / csize) AS BIGINT) AS weight_micro " +
        "FROM sz ORDER BY doc_id"),
    "p26_pii_scrub" ->
      ("WITH aug AS (SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +1 555-01' || CAST(doc_id % 100 AS VARCHAR) || ' now' AS t FROM documents) " +
        "SELECT doc_id, md5(regexp_replace(regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '\\+?[0-9][0-9 ()-]{5,}[0-9]', '<PHONE>', 'g')) AS scrubbed_h, " +
        "CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INTEGER) AS n_email, " +
        "CAST(len(regexp_extract_all(t, '\\+?[0-9][0-9 ()-]{5,}[0-9]')) AS INTEGER) AS n_phone " +
        "FROM aug ORDER BY doc_id"),
    "p25_seq_pack" ->
      ("WITH t AS (SELECT doc_id, source, CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT) AS n_tokens FROM documents), " +
        "c AS (SELECT doc_id, source, n_tokens, CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cum FROM t) " +
        "SELECT doc_id, source, n_tokens, (cum - n_tokens) // 256 AS seq_first, " +
        "greatest((cum - 1) // 256, (cum - n_tokens) // 256) AS seq_last " +
        "FROM c ORDER BY doc_id"),
    "p22_decontam" ->
      ("WITH toks AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS t FROM documents), " +
        "g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 3), i -> array_to_string(list_slice(t, i, i + 4), ' ')))) AS gram FROM toks WHERE len(t) >= 5), " +
        "ev AS (SELECT DISTINCT gram FROM g WHERE doc_id < 50), " +
        "tr AS (SELECT doc_id, gram FROM g WHERE doc_id >= 50) " +
        "SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS shared_grams FROM tr JOIN ev USING (gram) " +
        "GROUP BY tr.doc_id ORDER BY tr.doc_id"),
    "p23_stratified_sample" ->
      ("SELECT doc_id, lang, source FROM documents " +
        "WHERE (lang = 'en' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '2') " +
        "OR (lang <> 'en' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8') " +
        "ORDER BY doc_id"),
    "p27_doc_repetition" ->
      ("WITH t AS (SELECT doc_id, list_filter(string_split(lower(text),' '), x -> x <> '') AS toks FROM documents), " +
        "g AS (SELECT doc_id, list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS grams FROM t) " +
        "SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams, " +
        "CAST(round(10000.0 * (len(grams) - len(list_distinct(grams))) / len(grams)) AS BIGINT) AS dup_bp " +
        "FROM g WHERE len(grams) > 0 ORDER BY doc_id"),
    "p28_vocab_topk" ->
      ("SELECT tok, CAST(count(*) AS BIGINT) AS n FROM (SELECT unnest(list_filter(string_split(lower(text),' '), x -> x <> '')) AS tok FROM documents) " +
        "GROUP BY tok ORDER BY n DESC, tok LIMIT 100"),
    // p29 (round 4): C4-style corpus-wide line dedup. Same deterministic
    // line-boundary construction (' table ' -> newline) on both sides;
    // generate_subscripts+unnest zip positionally in DuckDB.
    "p29_line_dedup" ->
      ("WITH d AS (SELECT doc_id, string_split(replace(text, ' table ', chr(10)), chr(10)) AS ls FROM documents), " +
        "x AS (SELECT doc_id, generate_subscripts(ls, 1) AS pos, unnest(ls) AS line FROM d), " +
        "k AS (SELECT doc_id, pos, line, row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn FROM x) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_lines, md5(string_agg(line, chr(10) ORDER BY pos)) AS h " +
        "FROM k WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id"),
    // p30 (round 4): sliding-window chunking. DuckDB's range(0, nc) is the
    // scalar list constructor (generate_series cannot take a lateral column
    // here); list_slice's 1-based inclusive [a, b] clamps at the list end,
    // exactly Spark's slice(start, len).
    "p30_chunk_windows" ->
      ("WITH t AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS tk FROM documents), " +
        "c AS (SELECT doc_id, tk, CASE WHEN len(tk) <= 32 THEN 1 ELSE (len(tk) - 32 + 23) // 24 + 1 END AS nc FROM t), " +
        "x AS (SELECT doc_id, tk, unnest(range(0, nc)) AS ci FROM c) " +
        "SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx, CAST(len(list_slice(tk, ci*24 + 1, ci*24 + 32)) AS BIGINT) AS n_toks, " +
        "md5(array_to_string(list_slice(tk, ci*24 + 1, ci*24 + 32), ' ')) AS h " +
        "FROM x ORDER BY doc_id, chunk_idx"),
    // p31 (round 4): top-25%-per-source quality gate over the p11 stopword
    // score; ceil(n * 0.25) is exact in both engines.
    "p31_quality_gate" ->
      ("WITH s AS (SELECT doc_id, source, " +
        "CAST(round(10000.0 * len(list_filter(list_filter(string_split(text,' '), x -> x <> ''), t -> list_contains(['the','a','of','and','to','in','is'], t))) " +
        "/ len(list_filter(string_split(text,' '), x -> x <> ''))) AS BIGINT) AS score FROM documents), " +
        "r AS (SELECT doc_id, source, score, row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS rn, " +
        "count(*) OVER (PARTITION BY source) AS n FROM s) " +
        "SELECT doc_id, source, score FROM r WHERE rn <= ceil(n * 0.25) ORDER BY doc_id"),
    "p33_balance_sources" ->
      ("WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source), " +
        "m AS (SELECT min(n) AS m FROM c), " +
        "r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM documents) " +
        "SELECT r.doc_id, r.source FROM r, m WHERE r.rk <= m.m ORDER BY r.doc_id"),
    "p34_unigram_surprisal" ->
      ("WITH tk AS (SELECT doc_id, unnest(list_filter(string_split(lower(text),' '), x -> x <> '')) AS tok FROM documents), " +
        "v AS (SELECT tok, count(*) AS tok_n FROM tk GROUP BY tok), " +
        "tot AS (SELECT sum(tok_n) AS tot_n FROM v), " +
        "c AS (SELECT tok, CAST(round(1000000.0 * ln(CAST(tot_n AS DOUBLE) / CAST(tok_n AS DOUBLE))) AS BIGINT) AS cost FROM v, tot) " +
        "SELECT tk.doc_id, CAST(count(*) AS BIGINT) AS n_tokens, " +
        "CAST(round(CAST(sum(cost) AS DOUBLE) / count(*)) AS BIGINT) AS surprisal_micro " +
        "FROM tk JOIN c USING (tok) GROUP BY tk.doc_id ORDER BY tk.doc_id"),
    // p36 (r5): the end-to-end curation composite. Each CTE mirrors an
    // already-oracle'd stage: s = p26's scrub twin, t/h/f = p20's gate
    // CTEs over the scrubbed text, k/kept = keep-first exact dedup,
    // ev/tg/bad = p22's 5-gram construction, final = anti join.
    "p36_curation_e2e" ->
      ("WITH s AS (SELECT doc_id, regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '\\+?[0-9][0-9 ()-]{5,}[0-9]', '<PHONE>', 'g') AS text FROM documents), " +
        "t AS (SELECT doc_id, text, len(list_filter(string_split(text,' '), x -> x <> '')) AS n_tokens, list_filter(string_split(lower(text),' '), x -> x <> '') AS ltoks FROM s WHERE doc_id >= 50), " +
        "h AS (SELECT doc_id, text, ltoks, n_tokens, " +
        "len(list_filter(ltoks, w -> list_contains(['the','and','of','to','a','in','is'], w))) AS en, " +
        "len(list_filter(ltoks, w -> list_contains(['der','die','das','und','ist','nicht'], w))) AS de, " +
        "len(list_filter(ltoks, w -> list_contains(['le','la','les','et','est','une'], w))) AS fr, " +
        "len(list_filter(ltoks, w -> list_contains(['el','la','los','y','es','una'], w))) AS es FROM t), " +
        "f AS (SELECT doc_id, text, ltoks FROM h WHERE n_tokens >= 40 AND " +
        "(CASE WHEN en >= de AND en >= fr AND en >= es THEN 'en' " +
        "WHEN de >= fr AND de >= es THEN 'de' WHEN fr >= es THEN 'fr' ELSE 'es' END) = 'en'), " +
        "k AS (SELECT doc_id, ltoks, md5(text) AS ch, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM f), " +
        "kept AS (SELECT doc_id, ltoks, ch FROM k WHERE rn = 1), " +
        "ev AS (SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(ltoks) - 3), i -> array_to_string(list_slice(ltoks, i, i + 4), ' ')))) AS gram " +
        "FROM (SELECT list_filter(string_split(lower(text),' '), x -> x <> '') AS ltoks FROM s WHERE doc_id < 50) WHERE len(ltoks) >= 5), " +
        "tg AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ltoks) - 3), i -> array_to_string(list_slice(ltoks, i, i + 4), ' ')))) AS gram FROM kept WHERE len(ltoks) >= 5), " +
        "bad AS (SELECT DISTINCT tg.doc_id FROM tg JOIN ev USING (gram)) " +
        "SELECT doc_id, ch AS h FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM bad) ORDER BY doc_id"),
    // p32 (r6): incremental dedup — same dup-injection construction as the
    // engine side (donor join), then a NOT IN against the old corpus's
    // hash set.
    "p32_dedup_incremental" ->
      ("WITH newb AS (SELECT n.doc_id, n.source, " +
        "CASE WHEN n.doc_id % 10 = 3 AND n.doc_id >= 250 THEN d.text ELSE n.text END AS text " +
        "FROM documents n LEFT JOIN documents d ON d.doc_id = n.doc_id - 200 WHERE n.doc_id >= 200) " +
        "SELECT doc_id, source FROM newb " +
        "WHERE md5(text) NOT IN (SELECT md5(text) FROM documents WHERE doc_id < 250) ORDER BY doc_id"),
    // p37 (r6): p24's recursive-CTE component closure + p31's stopword
    // score, arg-max per component.
    "p37_cluster_best_dedup" ->
      ("WITH RECURSIVE p AS (SELECT * FROM (" +
        "SELECT a.doc_id AS d1, b.doc_id AS d2, " +
        "CAST(round(10000.0 * len(list_intersect(list_distinct(string_split(a.text,' ')), list_distinct(string_split(b.text,' ')))) " +
        "/ len(list_distinct(string_split(a.text,' ') || string_split(b.text,' ')))) AS BIGINT) AS jac_bp " +
        "FROM documents a JOIN documents b ON a.doc_id < b.doc_id AND substr(a.text,1,40) = substr(b.text,1,40)" +
        ") WHERE jac_bp >= 5000), " +
        "e AS (SELECT d1 AS u, d2 AS v FROM p UNION SELECT d2, d1 FROM p), " +
        "reach(n, m) AS (SELECT u, v FROM e UNION SELECT reach.n, e.v FROM reach JOIN e ON reach.m = e.u), " +
        "comp AS (SELECT n, min(m) AS mn FROM reach GROUP BY n), " +
        "lab AS (SELECT d.doc_id, least(d.doc_id, coalesce(c.mn, d.doc_id)) AS component FROM documents d LEFT JOIN comp c ON d.doc_id = c.n), " +
        "sc AS (SELECT doc_id, CAST(round(10000.0 * len(list_filter(list_filter(string_split(text,' '), x -> x <> ''), t -> list_contains(['the','a','of','and','to','in','is'], t))) " +
        "/ len(list_filter(string_split(text,' '), x -> x <> ''))) AS BIGINT) AS score FROM documents), " +
        "r AS (SELECT l.doc_id, l.component, s.score, " +
        "row_number() OVER (PARTITION BY l.component ORDER BY s.score DESC, l.doc_id) AS rn " +
        "FROM lab l JOIN sc s USING (doc_id)) " +
        "SELECT doc_id, component, score FROM r WHERE rn = 1 ORDER BY doc_id"),
    // p38 (r6): per-source token-budget admission in md5-hash order;
    // kept iff the doc STARTS inside the budget.
    "p38_token_budget_sample" ->
      ("WITH t AS (SELECT doc_id, source, CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT) AS n_tokens FROM documents), " +
        "c AS (SELECT doc_id, source, n_tokens, CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS cum FROM t) " +
        "SELECT doc_id, source, n_tokens, cum - n_tokens AS start_tok FROM c WHERE cum - n_tokens < 700 ORDER BY doc_id"),
    "p35_quantize_int8" ->
      ("WITH m AS (SELECT vec_id, embedding, list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx FROM embeddings) " +
        "SELECT vec_id, CAST(round(1000000.0 * 127 / mx) AS BIGINT) AS scale_micro, " +
        "array_to_string(list_transform(embedding, x -> CAST(CAST(round(CAST(x AS DOUBLE) * 127 / mx) AS INTEGER) AS VARCHAR)), ',') AS q " +
        "FROM m ORDER BY vec_id"),
    // p08 (round 4): the native CosineSim expression IS cross-engine
    // deterministic — it accumulates float→double products sequentially,
    // exactly what DuckDB's list_sum over list_transform does, so the
    // doubles are bit-identical. The oracle must ORDER BY the exact double
    // cosine (not the rounded micro value) to reproduce Spark's top-k
    // boundary, then project micro-units.
    "p08_sim_cosine_brute" ->
      ("WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0), " +
        "s AS (SELECT e.vec_id, " +
        "list_sum(list_transform(range(1, len(e.embedding)+1), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))) AS dot, " +
        "list_sum(list_transform(range(1, len(e.embedding)+1), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) AS nb, " +
        "list_sum(list_transform(range(1, len(q.embedding)+1), i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))) AS na " +
        "FROM embeddings e, q WHERE e.vec_id <> 0) " +
        "SELECT vec_id, CAST(round(1000000.0 * (dot / (sqrt(nb) * sqrt(na)))) AS BIGINT) AS cos_micro " +
        "FROM s ORDER BY (dot / (sqrt(nb) * sqrt(na))) DESC, vec_id LIMIT 20"),
    // p03 (r6): brute-force exact 3-gram-window Jaccard pair set at
    // >= 0.5 over all 125k doc pairs — the engine's LSH + exact-verify
    // output equals it deterministically (see the entry comment). Shingle
    // semantics mirror Dedup.shingles/TokenWindowHashes: lowercase
    // whitespace tokens, DISTINCT 3-token windows, a doc shorter than 3
    // tokens is one whole-doc shingle.
    "p03_dedup_minhash" ->
      ("WITH t AS (SELECT doc_id, list_filter(string_split(lower(text),' '), x -> x <> '') AS tk FROM documents), " +
        "s AS (SELECT doc_id, CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')] " +
        "ELSE list_distinct(list_transform(range(0, len(tk)-2), i -> array_to_string(list_slice(tk, i+1, i+3), ' '))) END AS sh FROM t), " +
        "p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, " +
        "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / (len(a.sh) + len(b.sh) - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)) AS j " +
        "FROM s a JOIN s b ON a.doc_id < b.doc_id) " +
        "SELECT d1, d2, CAST(round(j * 10000) AS BIGINT) AS jac_bp FROM p WHERE j >= 0.5 ORDER BY d1, d2"),
    // p04 (r6): brute-force portable-simhash hamming scan. The 60-bit
    // token hash is hex chars 18..32 of md5(token) — exactly
    // SimHashMd5.tokenHash — and the simhash is the classic Charikar
    // vote; pairs within hamming <= 3 over all doc pairs.
    "p04_dedup_simhash" ->
      ("WITH t AS (SELECT doc_id, list_filter(string_split(lower(text),' '), x -> x <> '') AS tk FROM documents), " +
        "s AS (SELECT doc_id, CAST(list_sum(list_transform(range(0,60), j -> " +
        "CASE WHEN list_sum(list_transform(list_transform(tk, t -> CAST('0x' || substr(md5(t),18,15) AS BIGINT)), " +
        "h -> CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS sh FROM t) " +
        "SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming " +
        "FROM s a JOIN s b ON a.doc_id < b.doc_id WHERE bit_count(xor(a.sh, b.sh)) <= 3 ORDER BY d1, d2"),
    // p05 (r6): brute-force exact cosine pair set at >= 0.99 over the
    // planted corpus (base vectors + one odd-coords-scaled-1.01 copy per
    // vector). Sequential double accumulation + sqrt-product denominator
    // mirror the CosineSim kernel bit-for-bit (the p08 precedent).
    "p05_dedup_embedding" ->
      ("WITH base AS (SELECT vec_id, embedding FROM embeddings), " +
        "pl AS (SELECT vec_id + 1000000 AS vec_id, " +
        "list_transform(range(1, len(embedding)+1), i -> CAST(embedding[i] * (1 + 0.01*(i%2)) AS FLOAT)) AS embedding FROM base), " +
        "c AS (SELECT * FROM base UNION ALL SELECT * FROM pl), " +
        "v AS (SELECT vec_id, embedding, list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS nsq FROM c), " +
        "p AS (SELECT a.vec_id AS d1, b.vec_id AS d2, " +
        "list_sum(list_transform(range(1, len(a.embedding)+1), i -> CAST(a.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE))) " +
        "/ (sqrt(a.nsq) * sqrt(b.nsq)) AS cosine FROM v a JOIN v b ON a.vec_id < b.vec_id) " +
        "SELECT d1, d2, CAST(round(cosine * 1000000) AS BIGINT) AS cos_micro FROM p WHERE cosine >= 0.99 ORDER BY d1, d2"),
    // p39 (r6): p05's brute-force exact pair set closed with p24's
    // recursive-CTE pattern over the planted vector corpus.
    "p39_semantic_clusters" ->
      ("WITH RECURSIVE base AS (SELECT vec_id, embedding FROM embeddings), " +
        "pl AS (SELECT vec_id + 1000000 AS vec_id, " +
        "list_transform(range(1, len(embedding)+1), i -> CAST(embedding[i] * (1 + 0.01*(i%2)) AS FLOAT)) AS embedding FROM base), " +
        "c AS (SELECT * FROM base UNION ALL SELECT * FROM pl), " +
        "vv AS (SELECT vec_id, embedding, list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS nsq FROM c), " +
        "p AS (SELECT a.vec_id AS d1, b.vec_id AS d2 FROM vv a JOIN vv b ON a.vec_id < b.vec_id " +
        "WHERE list_sum(list_transform(range(1, len(a.embedding)+1), i -> CAST(a.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE))) " +
        "/ (sqrt(a.nsq) * sqrt(b.nsq)) >= 0.99), " +
        "e AS (SELECT d1 AS u, d2 AS v FROM p UNION SELECT d2, d1 FROM p), " +
        "reach(n, m) AS (SELECT u, v FROM e UNION SELECT reach.n, e.v FROM reach JOIN e ON reach.m = e.u), " +
        "comp AS (SELECT n, min(m) AS mn FROM reach GROUP BY n) " +
        "SELECT cc.vec_id, least(cc.vec_id, coalesce(comp.mn, cc.vec_id)) AS component, " +
        "least(cc.vec_id, coalesce(comp.mn, cc.vec_id)) = cc.vec_id AS is_kept " +
        "FROM c cc LEFT JOIN comp ON cc.vec_id = comp.n ORDER BY cc.vec_id"),
    // p40 (r6): same md5-prefix shard hash ('0x'||hex cast == Spark's
    // conv(,16,10)), p10's token-count semantics.
    "p40_shard_stats" ->
      ("WITH t AS (SELECT doc_id, CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT) % 16 AS shard, " +
        "len(list_filter(string_split(text, ' '), x -> x <> '')) AS nt FROM documents) " +
        "SELECT shard, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens, min(doc_id) AS first_id " +
        "FROM t GROUP BY shard ORDER BY shard"),
    // p41 (r6): micro-quantized sqrt weights (IEEE sqrt is correctly
    // rounded → identical BIGINTs), exact integer weight total, one double
    // division per quota — the engine-side determinism contract.
    "p41_temperature_mix" ->
      ("WITH d AS (SELECT doc_id, CASE WHEN source = 'src0' THEN 'head' " +
        "WHEN source IN ('src1','src2','src3','src4') THEN 'mid' ELSE 'tail' END AS domain FROM documents), " +
        "c AS (SELECT domain, count(*) AS n FROM d GROUP BY domain), " +
        "w AS (SELECT domain, CAST(round(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS w FROM c), " +
        "t AS (SELECT sum(w) AS tw FROM w), " +
        "qt AS (SELECT domain, CAST(round(150 * CAST(w AS DOUBLE) / CAST(tw AS DOUBLE)) AS BIGINT) AS src_quota FROM w, t), " +
        "r AS (SELECT doc_id, domain, row_number() OVER (PARTITION BY domain ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM d) " +
        "SELECT r.doc_id, r.domain, qt.src_quota FROM r JOIN qt USING (domain) WHERE r.rk <= qt.src_quota ORDER BY r.doc_id"),
    // p43 (r7): brute-force span dedup — every 16-token window per
    // position, keep-first by (doc_id, pos) over the window CONTENT
    // (the engine keys by md5 digest; grouping by content here proves the
    // digest keying loses nothing), coverage positions exploded, tokens
    // anti-joined, text reassembled in order. Same deterministic dup
    // construction as the engine side.
    "p43_span_dedup" ->
      ("WITH aug AS (SELECT doc_id, CASE " +
        "WHEN doc_id % 5 = 2 THEN 'copyright terms of service all rights reserved privacy policy cookie consent subscribe newsletter follow us on' || ' ' || text " +
        "WHEN doc_id % 7 = 3 THEN text || ' ' || array_to_string(list_slice(list_filter(string_split(text,' '), x -> x <> ''), 1, 16), ' ') " +
        "ELSE text END AS text FROM documents), " +
        "tk AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS t FROM aug), " +
        "ws AS (SELECT doc_id, list_transform(range(1, len(t) - 14), i -> array_to_string(list_slice(t, i, i + 15), ' ')) AS w FROM tk), " +
        "occ AS (SELECT doc_id, generate_subscripts(w, 1) - 1 AS pos, unnest(w) AS win FROM ws), " +
        "r AS (SELECT doc_id, pos, row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn FROM occ), " +
        "rem AS (SELECT DISTINCT doc_id, rpos FROM (SELECT doc_id, unnest(range(pos, pos + 16)) AS rpos FROM r WHERE rn > 1)), " +
        "tp AS (SELECT doc_id, generate_subscripts(t, 1) - 1 AS tpos, unnest(t) AS tok FROM tk), " +
        "kept AS (SELECT tp.doc_id, tp.tpos, tp.tok FROM tp LEFT JOIN rem ON tp.doc_id = rem.doc_id AND tp.tpos = rem.rpos WHERE rem.rpos IS NULL), " +
        "g AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_tokens, string_agg(tok, ' ' ORDER BY tpos) AS text FROM kept GROUP BY doc_id) " +
        "SELECT tk.doc_id, CAST(len(t) AS BIGINT) AS n_tokens, " +
        "CAST(coalesce(g.kept_tokens, 0) AS BIGINT) AS kept_tokens, " +
        "md5(coalesce(g.text, '')) AS h " +
        "FROM tk LEFT JOIN g USING (doc_id) ORDER BY tk.doc_id"),
    // p45 (r7): brute-force span decontamination — p43's oracle structure
    // with the duplicate test replaced by membership in the eval set's
    // distinct 16-token windows; same construction as the engine side.
    "p45_decontam_spans" ->
      ("WITH ev AS (SELECT doc_id, text FROM documents WHERE doc_id < 50), " +
        "don AS (SELECT doc_id AS eid, array_to_string(list_slice(list_filter(string_split(text,' '), x -> x <> ''), 1, 16), ' ') AS espan FROM ev), " +
        "tr AS (SELECT d.doc_id, CASE WHEN d.doc_id % 9 = 5 THEN d.text || ' ' || don.espan ELSE d.text END AS text " +
        "FROM documents d JOIN don ON don.eid = d.doc_id % 50 WHERE d.doc_id >= 50), " +
        "evtk AS (SELECT list_filter(string_split(text,' '), x -> x <> '') AS t FROM ev), " +
        "evw AS (SELECT DISTINCT unnest(list_transform(range(1, len(t) - 14), i -> array_to_string(list_slice(t, i, i + 15), ' '))) AS w FROM evtk), " +
        "ttk AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS t FROM tr), " +
        "tw AS (SELECT doc_id, generate_subscripts(ws, 1) - 1 AS pos, unnest(ws) AS w FROM " +
        "(SELECT doc_id, list_transform(range(1, len(t) - 14), i -> array_to_string(list_slice(t, i, i + 15), ' ')) AS ws FROM ttk)), " +
        "hit AS (SELECT tw.doc_id, tw.pos FROM tw JOIN evw USING (w)), " +
        "rem AS (SELECT DISTINCT doc_id, rpos FROM (SELECT doc_id, unnest(range(pos, pos + 16)) AS rpos FROM hit)), " +
        "tp AS (SELECT doc_id, generate_subscripts(t, 1) - 1 AS tpos, unnest(t) AS tok FROM ttk), " +
        "kept AS (SELECT tp.doc_id, tp.tpos, tp.tok FROM tp LEFT JOIN rem ON tp.doc_id = rem.doc_id AND tp.tpos = rem.rpos WHERE rem.rpos IS NULL), " +
        "g AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_tokens, string_agg(tok, ' ' ORDER BY tpos) AS text FROM kept GROUP BY doc_id) " +
        "SELECT ttk.doc_id, CAST(len(t) AS BIGINT) AS n_tokens, " +
        "CAST(coalesce(g.kept_tokens, 0) AS BIGINT) AS kept_tokens, " +
        "md5(coalesce(g.text, '')) AS h " +
        "FROM ttk LEFT JOIN g USING (doc_id) ORDER BY ttk.doc_id"),
    // p46 (r7): brute-force per-source boilerplate spans — p43's oracle
    // structure with the keep-first window replaced by a (source, window)
    // HAVING count(DISTINCT doc_id) >= 4 boilerplate set joined back to
    // ALL occurrences; same md5-coin footer construction as the engine.
    "p46_boilerplate_spans" ->
      ("WITH aug AS (SELECT doc_id, source, CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,1) <= '7' " +
        "THEN text || ' all content copyright ' || source || ' all rights reserved subscribe to ' || source || ' newsletter for daily updates and news' " +
        "ELSE text END AS text FROM documents), " +
        "tk AS (SELECT doc_id, source, list_filter(string_split(text,' '), x -> x <> '') AS t FROM aug), " +
        "ws AS (SELECT doc_id, source, list_transform(range(1, len(t) - 14), i -> array_to_string(list_slice(t, i, i + 15), ' ')) AS w FROM tk), " +
        "occ AS (SELECT doc_id, source, generate_subscripts(w, 1) - 1 AS pos, unnest(w) AS win FROM ws), " +
        "boiler AS (SELECT source, win FROM occ GROUP BY source, win HAVING count(DISTINCT doc_id) >= 4), " +
        "hit AS (SELECT o.doc_id, o.pos FROM occ o JOIN boiler b ON o.source = b.source AND o.win = b.win), " +
        "rem AS (SELECT DISTINCT doc_id, rpos FROM (SELECT doc_id, unnest(range(pos, pos + 16)) AS rpos FROM hit)), " +
        "tp AS (SELECT doc_id, generate_subscripts(t, 1) - 1 AS tpos, unnest(t) AS tok FROM tk), " +
        "kept AS (SELECT tp.doc_id, tp.tpos, tp.tok FROM tp LEFT JOIN rem ON tp.doc_id = rem.doc_id AND tp.tpos = rem.rpos WHERE rem.rpos IS NULL), " +
        "g AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_tokens, string_agg(tok, ' ' ORDER BY tpos) AS text FROM kept GROUP BY doc_id) " +
        "SELECT tk.doc_id, tk.source, CAST(len(t) AS BIGINT) AS n_tokens, " +
        "CAST(coalesce(g.kept_tokens, 0) AS BIGINT) AS kept_tokens, " +
        "md5(coalesce(g.text, '')) AS h " +
        "FROM tk LEFT JOIN g USING (doc_id) ORDER BY tk.doc_id"),
    // p47 (r7): brute-force cross-source overlap — distinct (source,
    // window CONTENT) self-joined on the window (the engine keys by md5
    // digest; content grouping here proves digest keying loses nothing).
    "p47_cross_source_overlap" ->
      ("WITH tk AS (SELECT doc_id, source, list_filter(string_split(text,' '), x -> x <> '') AS t FROM documents), " +
        "ws AS (SELECT doc_id, source, unnest(list_transform(range(1, len(t) - 6), i -> array_to_string(list_slice(t, i, i + 7), ' '))) AS w FROM tk), " +
        "d AS (SELECT DISTINCT source, w FROM ws) " +
        "SELECT a.source AS s1, b.source AS s2, CAST(count(*) AS BIGINT) AS shared_windows " +
        "FROM d a JOIN d b ON a.w = b.w AND a.source < b.source GROUP BY 1, 2 ORDER BY s1, s2"),
    // p48 (r7): rank-exact per-source tail trim — same row_number/count
    // windows; floor(n * 0.1) is exact IEEE on both engines.
    "p48_length_trim" ->
      ("WITH d AS (SELECT doc_id, source, len(list_filter(string_split(text,' '), x -> x <> '')) AS n_tok FROM documents), " +
        "r AS (SELECT doc_id, source, n_tok, row_number() OVER (PARTITION BY source ORDER BY n_tok, doc_id) AS rk, " +
        "count(*) OVER (PARTITION BY source) AS n FROM d) " +
        "SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok FROM r " +
        "WHERE rk > floor(n * 0.1) AND rk <= n - floor(n * 0.1) ORDER BY doc_id"),
    // p49 (r7): brute-force novelty curve — per-(source, window CONTENT)
    // occurrence counts, first owner via min-over-window, per-source
    // totals; all integer.
    "p49_source_novelty" ->
      ("WITH tk AS (SELECT doc_id, source, list_filter(string_split(text,' '), x -> x <> '') AS t FROM documents), " +
        "ws AS (SELECT doc_id, source, unnest(list_transform(range(1, len(t) - 6), i -> array_to_string(list_slice(t, i, i + 7), ' '))) AS w FROM tk), " +
        "sw AS (SELECT source, w, count(*) AS occ FROM ws GROUP BY 1, 2), " +
        "o AS (SELECT source, w, occ, min(source) OVER (PARTITION BY w) AS owner FROM sw) " +
        "SELECT source, CAST(sum(occ) AS BIGINT) AS total_occurrences, " +
        "CAST(count(*) AS BIGINT) AS distinct_windows, " +
        "CAST(sum(CASE WHEN source = owner THEN 1 ELSE 0 END) AS BIGINT) AS novel_windows " +
        "FROM o GROUP BY source ORDER BY source"),
    // p52 (r7 session 3): brute-force within-label kNN — the engine's
    // co-partitioned label join restated as a self-join; cosine via the
    // p39 list_sum double pattern (identical term order to the kernel's
    // sequential walk); rank ties broken by dst, and the top-5-vicinity
    // score gaps all sit >= 3e-4 (probe) so double ordering is tie-free.
    "p52_cluster_knn" ->
      ("WITH v AS (SELECT vec_id, label, " +
        "CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 6) AS BIGINT) % 16 AS shard, embedding, " +
        "list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS nsq FROM embeddings), " +
        "p AS (SELECT a.vec_id AS src, b.vec_id AS dst, " +
        "list_sum(list_transform(range(1, len(a.embedding)+1), i -> CAST(a.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE))) " +
        "/ (sqrt(a.nsq) * sqrt(b.nsq)) AS cos FROM v a JOIN v b ON a.label = b.label AND a.shard = b.shard AND a.vec_id <> b.vec_id), " +
        "r AS (SELECT src, dst, cos, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rk FROM p) " +
        "SELECT src, CAST(rk AS BIGINT) AS rk, dst, CAST(round(cos * 1000000) AS BIGINT) AS cos_micro " +
        "FROM r WHERE rk <= 3 ORDER BY src, rk"),
    // p53 (r7 session 3): per-char explode + GROUP BY restatement of the
    // one-scan kernel (ASCII corpus: chars == bytes, probe-verified);
    // log2 frequencies, 4.0-bit gate (clean docs >= 1.6e-3 from the
    // boundary, planted spam ~1.5 bits).
    "p53_entropy_gate" ->
      ("WITH aug AS (SELECT doc_id, CASE WHEN doc_id % 9 = 4 " +
        "THEN 'x ' || repeat('aaa bbb ', 24) ELSE text END AS text FROM documents), " +
        "ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c FROM aug), " +
        "cc AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY 1, 2), " +
        "n AS (SELECT doc_id, sum(k) AS nn FROM cc GROUP BY 1), " +
        "e AS (SELECT cc.doc_id, -sum((CAST(k AS DOUBLE)/nn) * log2(CAST(k AS DOUBLE)/nn)) AS ent " +
        "FROM cc JOIN n USING (doc_id) GROUP BY cc.doc_id) " +
        "SELECT doc_id, CAST(round(ent * 1000000) AS BIGINT) AS ent_micro, " +
        "ent >= 4.0 AS kept FROM e ORDER BY doc_id"),
    // p54 (r7 session 3): tf/df/score restated in SQL; N from a count
    // subquery (sf-independent), ln natural log in both engines, rank
    // ties broken by term.
    "p54_tfidf_terms" ->
      ("WITH toks AS (SELECT doc_id, source, unnest(list_filter(string_split(text,' '), x -> x <> '')) AS term FROM documents), " +
        "tf AS (SELECT source, term, count(*) AS tf FROM toks GROUP BY 1, 2), " +
        "df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1), " +
        "sc AS (SELECT source, term, tf * ln((CAST((SELECT count(*) FROM documents) AS DOUBLE) + 1.0) / (df + 1.0)) AS s FROM tf JOIN df USING (term)), " +
        "r AS (SELECT source, term, s, row_number() OVER (PARTITION BY source ORDER BY s DESC, term) AS rk FROM sc) " +
        "SELECT source, CAST(rk AS BIGINT) AS rk, term, CAST(round(s * 1000000) AS BIGINT) AS tfidf_micro " +
        "FROM r WHERE rk <= 5 ORDER BY source, rk"),
    // p55 (r7 session 3): quantile_cont list form — same interpolation
    // formula on the same integers as Spark's exact percentile, so the
    // strict bin edges agree double-for-double.
    "p55_quality_bins" ->
      ("WITH th AS (SELECT quantile_cont(n_chars, [0.25, 0.5, 0.75]) AS q FROM documents) " +
        "SELECT doc_id, CAST(1 + CAST(n_chars > q[1] AS INT) + CAST(n_chars > q[2] AS INT) + CAST(n_chars > q[3] AS INT) AS BIGINT) AS bin, " +
        "CAST(round(q[1] * 100) AS BIGINT) AS q1_c, CAST(round(q[3] * 100) AS BIGINT) AS q3_c " +
        "FROM documents, th ORDER BY doc_id"),
    // p56 (r7 session 3): identical mirror-crawl planting + content-hash
    // grouping in SQL.
    "p56_label_conflicts" ->
      ("WITH aug AS (SELECT doc_id, text, lang, source FROM documents " +
        "UNION ALL SELECT doc_id + 1000000, text, " +
        "CASE WHEN doc_id % 10 = 1 THEN 'und' ELSE lang END, 'mirror' " +
        "FROM documents WHERE doc_id % 5 = 1), " +
        "g AS (SELECT md5(text) AS h, count(*) AS n_docs, " +
        "count(DISTINCT lang) AS n_lang, count(DISTINCT source) AS n_source, " +
        "min(doc_id) AS first_id FROM aug GROUP BY 1) " +
        "SELECT h, n_docs, n_lang, n_source, first_id, " +
        "(n_lang > 1 OR n_source > 1) AS conflict FROM g WHERE n_docs > 1 ORDER BY h"),
    // p57 (r7 session 3): the same centroid construction in SQL — ordered
    // list rebuild, FLOAT cast, p39's double-cosine formula.
    "p57_centroid_cohesion" ->
      ("WITH pos AS (SELECT label, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS p FROM embeddings), " +
        "cm AS (SELECT label, p, avg(CAST(v AS DOUBLE)) AS c FROM pos GROUP BY 1, 2), " +
        "ca AS (SELECT label, list_transform(list(c ORDER BY p), x -> CAST(x AS FLOAT)) AS cen FROM cm GROUP BY label), " +
        "cs AS (SELECT e.label, " +
        "list_sum(list_transform(range(1, len(e.embedding)+1), i -> CAST(e.embedding[i] AS DOUBLE)*CAST(ca.cen[i] AS DOUBLE))) " +
        "/ (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) * " +
        "sqrt(list_sum(list_transform(ca.cen, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos " +
        "FROM embeddings e JOIN ca USING (label)) " +
        "SELECT label, count(*) AS n, " +
        "CAST(round(avg(cos) * 1000000) AS BIGINT) AS avg_cos_micro, " +
        "CAST(round(min(cos) * 1000000) AS BIGINT) AS min_cos_micro " +
        "FROM cs GROUP BY label ORDER BY label"),
    // p59 (r8): brute-force ledger — the p43 span-oracle structure with
    // exact-dedup and gate CTE stages ahead of it, each emitting its
    // ledger rows; one row per removed/cut doc, ordered by doc_id.
    "p59_provenance_ledger" ->
      ("WITH aug AS (SELECT doc_id, CASE " +
        "WHEN doc_id % 5 = 2 THEN 'copyright terms of service all rights reserved privacy policy cookie consent subscribe newsletter follow us on' || ' ' || text " +
        "WHEN doc_id % 7 = 3 THEN text || ' ' || array_to_string(list_slice(list_filter(string_split(text,' '), x -> x <> ''), 1, 16), ' ') " +
        "ELSE text END AS text FROM documents), " +
        "tk0 AS (SELECT doc_id, text, md5(text) AS h, len(list_filter(string_split(text,' '), x -> x <> '')) AS nt FROM aug), " +
        "keep AS (SELECT h, min(doc_id) AS keep_id FROM tk0 GROUP BY h), " +
        "led1 AS (SELECT t.doc_id, 'dedup_exact' AS op, 'duplicate' AS reason, CAST(k.keep_id AS BIGINT) AS detail, CAST(t.nt AS BIGINT) AS removed_tokens " +
        "FROM tk0 t JOIN keep k ON t.h = k.h WHERE t.doc_id <> k.keep_id), " +
        "s1 AS (SELECT t.* FROM tk0 t JOIN keep k ON t.h = k.h WHERE t.doc_id = k.keep_id), " +
        "led2 AS (SELECT doc_id, 'gate' AS op, 'min_tokens' AS reason, CAST(nt AS BIGINT) AS detail, CAST(nt AS BIGINT) AS removed_tokens FROM s1 WHERE nt < 40), " +
        "tk AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS t FROM s1 WHERE nt >= 40), " +
        "ws AS (SELECT doc_id, list_transform(range(1, len(t) - 14), i -> array_to_string(list_slice(t, i, i + 15), ' ')) AS w FROM tk), " +
        "occ AS (SELECT doc_id, generate_subscripts(w, 1) - 1 AS pos, unnest(w) AS win FROM ws), " +
        "r AS (SELECT doc_id, pos, row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn FROM occ), " +
        "rem AS (SELECT DISTINCT doc_id, rpos FROM (SELECT doc_id, unnest(range(pos, pos + 16)) AS rpos FROM r WHERE rn > 1)), " +
        "remc AS (SELECT doc_id, count(*) AS cut FROM rem GROUP BY doc_id), " +
        "led3 AS (SELECT tk.doc_id, 'span_dedup' AS op, 'dup_window' AS reason, CAST(len(t) - remc.cut AS BIGINT) AS detail, CAST(remc.cut AS BIGINT) AS removed_tokens " +
        "FROM tk JOIN remc USING (doc_id) WHERE remc.cut > 0) " +
        "SELECT * FROM (SELECT * FROM led1 UNION ALL SELECT * FROM led2 UNION ALL SELECT * FROM led3) ORDER BY doc_id, op"),
    // p60 (r8): the dataset-card manifest restated brute-force — p12's
    // language vote, exact median (both engines interpolate (1-f)a + fb
    // on the same integers), count − count(DISTINCT md5) dup rate.
    "p60_dataset_card" ->
      ("WITH t AS (SELECT source, md5(text) AS h, " +
        "len(list_filter(string_split(text,' '), x -> x <> '')) AS nt, " +
        "list_filter(string_split(lower(text),' '), x -> x <> '') AS toks FROM documents), " +
        "l AS (SELECT source, h, nt, " +
        "len(list_filter(toks, w -> list_contains(['the','and','of','to','a','in','is'], w))) AS en, " +
        "len(list_filter(toks, w -> list_contains(['der','die','das','und','ist','nicht'], w))) AS de, " +
        "len(list_filter(toks, w -> list_contains(['le','la','les','et','est','une'], w))) AS fr, " +
        "len(list_filter(toks, w -> list_contains(['el','la','los','y','es','una'], w))) AS es FROM t), " +
        "p AS (SELECT source, h, nt, CASE WHEN en >= de AND en >= fr AND en >= es THEN 'en' " +
        "WHEN de >= fr AND de >= es THEN 'de' WHEN fr >= es THEN 'fr' ELSE 'es' END AS pred FROM l) " +
        "SELECT source, count(*) AS n_docs, count(*) - count(DISTINCT h) AS dup_docs, " +
        "CAST(sum(nt) AS BIGINT) AS total_tokens, " +
        "CAST(median(nt) * 10 AS BIGINT) AS median_tokens_x10, " +
        "CAST(sum(CASE WHEN pred = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en_docs, " +
        "CAST(sum(CASE WHEN pred = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de_docs, " +
        "CAST(sum(CASE WHEN pred = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr_docs, " +
        "CAST(sum(CASE WHEN pred = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es_docs " +
        "FROM p GROUP BY source ORDER BY source"),
    // p61 (r8): positional alignment — the window form IS the oracle
    // (row_number over each side's total order, full-outer on position).
    "p61_positional_align" ->
      ("WITH d AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS pos FROM documents), " +
        "e AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id DESC) AS pos FROM embeddings WHERE vec_id % 7 <> 3) " +
        "SELECT CAST(pos AS BIGINT) AS pos, d.doc_id, e.vec_id " +
        "FROM d FULL OUTER JOIN e USING (pos) ORDER BY pos"),
    // p62 (r9): p03's brute-force exact-Jaccard oracle restricted to the
    // cross (new × old) pair set — d1 is the increment (doc_id % 5 = 0),
    // d2 the indexed corpus.
    "p62_minhash_incremental" ->
      ("WITH t AS (SELECT doc_id, list_filter(string_split(lower(text),' '), x -> x <> '') AS tk FROM documents), " +
        "s AS (SELECT doc_id, CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')] " +
        "ELSE list_distinct(list_transform(range(0, len(tk)-2), i -> array_to_string(list_slice(tk, i+1, i+3), ' '))) END AS sh FROM t), " +
        "p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, " +
        "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / (len(a.sh) + len(b.sh) - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)) AS j " +
        "FROM s a JOIN s b ON a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0) " +
        "SELECT d1, d2, CAST(round(j * 10000) AS BIGINT) AS jac_bp FROM p WHERE j >= 0.5 ORDER BY d1, d2"),
    // p63 (r9): p05's brute-force exact-cosine oracle restricted to the
    // cross set — d1 the base corpus, d2 its planted +1M copy.
    "p63_embedding_incremental" ->
      ("WITH base AS (SELECT vec_id, embedding FROM embeddings), " +
        "pl AS (SELECT vec_id + 1000000 AS vec_id, " +
        "list_transform(range(1, len(embedding)+1), i -> CAST(embedding[i] * (1 + 0.01*(i%2)) AS FLOAT)) AS embedding FROM base), " +
        "c AS (SELECT * FROM base UNION ALL SELECT * FROM pl), " +
        "v AS (SELECT vec_id, embedding, list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS nsq FROM c), " +
        "p AS (SELECT a.vec_id AS d1, b.vec_id AS d2, " +
        "list_sum(list_transform(range(1, len(a.embedding)+1), i -> CAST(a.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE))) " +
        "/ (sqrt(a.nsq) * sqrt(b.nsq)) AS cosine FROM v a JOIN v b ON a.vec_id < 1000000 AND b.vec_id >= 1000000) " +
        "SELECT d1, d2, CAST(round(cosine * 1000000) AS BIGINT) AS cos_micro FROM p WHERE cosine >= 0.99 ORDER BY d1, d2"),
    // p65 (r13): maintenance preserves the pair contract — the oracle is
    // exactly p63's exact-cosine cross pair set (geometry-independent at
    // duplicate-grade similarity).
    "p65_embedding_index_maint" ->
      ("WITH base AS (SELECT vec_id, embedding FROM embeddings), " +
        "pl AS (SELECT vec_id + 1000000 AS vec_id, " +
        "list_transform(range(1, len(embedding)+1), i -> CAST(embedding[i] * (1 + 0.01*(i%2)) AS FLOAT)) AS embedding FROM base), " +
        "c AS (SELECT * FROM base UNION ALL SELECT * FROM pl), " +
        "v AS (SELECT vec_id, embedding, list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS nsq FROM c), " +
        "p AS (SELECT a.vec_id AS d1, b.vec_id AS d2, " +
        "list_sum(list_transform(range(1, len(a.embedding)+1), i -> CAST(a.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE))) " +
        "/ (sqrt(a.nsq) * sqrt(b.nsq)) AS cosine FROM v a JOIN v b ON a.vec_id < 1000000 AND b.vec_id >= 1000000) " +
        "SELECT d1, d2, CAST(round(cosine * 1000000) AS BIGINT) AS cos_micro FROM p WHERE cosine >= 0.99 ORDER BY d1, d2"),
    // p66 (r13): p62's exact-Jaccard oracle, unchanged by the re-band.
    "p66_minhash_index_maint" ->
      ("WITH t AS (SELECT doc_id, list_filter(string_split(lower(text),' '), x -> x <> '') AS tk FROM documents), " +
        "s AS (SELECT doc_id, CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')] " +
        "ELSE list_distinct(list_transform(range(0, len(tk)-2), i -> array_to_string(list_slice(tk, i+1, i+3), ' '))) END AS sh FROM t), " +
        "p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, " +
        "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / (len(a.sh) + len(b.sh) - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)) AS j " +
        "FROM s a JOIN s b ON a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0) " +
        "SELECT d1, d2, CAST(round(j * 10000) AS BIGINT) AS jac_bp FROM p WHERE j >= 0.5 ORDER BY d1, d2"),
    // p58 (r7 session 3): same construction in SQL.
    "p58_modality_audit" ->
      ("WITH v AS (SELECT vec_id FROM embeddings WHERE vec_id % 7 <> 3 " +
        "UNION ALL SELECT vec_id + 2000000 FROM embeddings WHERE vec_id % 11 = 5), " +
        "j AS (SELECT coalesce(d.source, '__orphan__') AS source, d.doc_id, v.vec_id " +
        "FROM documents d FULL OUTER JOIN v ON d.doc_id = v.vec_id) " +
        "SELECT source, count(doc_id) AS n_docs, count(vec_id) AS n_vecs, " +
        "count(CASE WHEN vec_id IS NULL THEN 1 END) AS missing_vec, " +
        "count(CASE WHEN doc_id IS NULL THEN 1 END) AS orphan_vec " +
        "FROM j GROUP BY source ORDER BY source"),
    // p44 (r7): brute-force byte-shingle simhash hamming scan over the
    // planted payload corpus — the p04 oracle pattern with 4-byte
    // substring shingles instead of tokens (fixture text is pure ASCII,
    // probe-verified octet_length = length, so char substrings ARE the
    // kernel's byte shingles). MATERIALIZED pins the hash lists so the
    // 60-bit vote loop does not recompute 60 md5 passes per doc.
    "p44_multimodal_neardup" ->
      ("WITH c AS (SELECT doc_id AS id, text FROM documents " +
        "UNION ALL SELECT doc_id + 1000000 AS id, 'Z' || substr(text, 2) AS text FROM documents), " +
        "hs AS MATERIALIZED (SELECT id, list_transform(range(1, length(text) - 2), " +
        "i -> CAST('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 4)), 18, 15) AS BIGINT)) AS hl FROM c), " +
        "s AS MATERIALIZED (SELECT id, CAST(list_sum(list_transform(range(0, 60), j -> " +
        "CASE WHEN list_sum(list_transform(hl, h -> CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0 " +
        "THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS sh FROM hs) " +
        "SELECT a.id AS d1, b.id AS d2, CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming " +
        "FROM s a JOIN s b ON a.id < b.id WHERE bit_count(xor(a.sh, b.sh)) <= 3 ORDER BY d1, d2"),
    // p42 (r6): brute-force cosine of every corpus vector against the 5
    // eval probes over the planted audit corpus — the annAudit CTE
    // construction with a threshold + per-vector max instead of top-k.
    "p42_semantic_decontam" ->
      ("WITH pl AS (SELECT CAST(1000000 + e.vec_id*100 + j AS BIGINT) AS vec_id, " +
        "list_transform(range(1, len(e.embedding)+1), i -> CAST(e.embedding[i] * (1 + 0.0005*j*(i%2)) AS FLOAT)) AS embedding " +
        "FROM embeddings e, (SELECT unnest(range(1,31)) AS j) t WHERE e.vec_id < 5), " +
        "c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10 UNION ALL SELECT vec_id, embedding FROM pl), " +
        "qp AS (SELECT vec_id AS eval_id, embedding AS qv FROM embeddings WHERE vec_id < 5), " +
        "sc AS (SELECT c.vec_id, " +
        "list_sum(list_transform(range(1, len(c.embedding)+1), i -> CAST(c.embedding[i] AS DOUBLE)*CAST(qp.qv[i] AS DOUBLE))) " +
        "/ (sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) " +
        "* sqrt(list_sum(list_transform(qp.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cosine FROM c, qp) " +
        "SELECT vec_id, CAST(count(*) AS BIGINT) AS eval_hits, " +
        "CAST(max(CAST(round(cosine * 1000000) AS BIGINT)) AS BIGINT) AS max_cos_micro " +
        "FROM sc WHERE cosine >= 0.99 GROUP BY vec_id ORDER BY vec_id"),
    // p09/p21 (r6): the exact side of the recall@k audit — brute-force
    // top-20 per probe over the planted corpus, in (cosine DESC, vec_id)
    // rank order; recall_ok is TRUE by contract (the engine recomputes it
    // from |ANN ∩ exact| and a drop below 18/20 reddens the row).
    "p09_sim_ann_lsh" -> annAuditOracleSql,
    "p21_sim_ann_ivf" -> annAuditOracleSql,
    // r14: the maintained-IVF audit shares the exact side — maintenance
    // must preserve the recall contract while changing the geometry
    "p67_ivf_index_maint" -> annAuditOracleSql,
  )

  /** Shared oracle for the p09/p21 recall audits (the exact side is
    * identical; the engine sides exercise different index structures). */
  private val annAuditOracleSql: String =
    "WITH pl AS (SELECT CAST(1000000 + e.vec_id*100 + j AS BIGINT) AS vec_id, " +
      "list_transform(range(1, len(e.embedding)+1), i -> CAST(e.embedding[i] * (1 + 0.0005*j*(i%2)) AS FLOAT)) AS embedding " +
      "FROM embeddings e, (SELECT unnest(range(1,31)) AS j) t WHERE e.vec_id < 5), " +
      "c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10 UNION ALL SELECT vec_id, embedding FROM pl), " +
      "qp AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5), " +
      "sc AS (SELECT qp.query_id, c.vec_id, " +
      "list_sum(list_transform(range(1, len(c.embedding)+1), i -> CAST(c.embedding[i] AS DOUBLE)*CAST(qp.qv[i] AS DOUBLE))) " +
      "/ (sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) " +
      "* sqrt(list_sum(list_transform(qp.qv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cosine FROM c, qp), " +
      "r AS (SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn FROM sc) " +
      "SELECT query_id, string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY rn) AS exact_top20, TRUE AS recall_ok " +
      "FROM r WHERE rn <= 20 GROUP BY query_id ORDER BY query_id"
}
