package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination for training corpora (SURVEY §2.11 north star,
  * round 4): flag training documents that share word n-grams with an
  * evaluation set — the standard overlap check run before training so eval
  * benchmarks aren't leaked into the corpus.
  *
  * Shape at 100 TB: the eval side is always small (benchmarks are thousands
  * of documents, not billions), so its distinct-gram set is broadcast and the
  * corpus side is a single codegen'd scan → explode → broadcast semi-ish
  * join → partial-aggregated count. No corpus-side shuffle other than the
  * final per-doc count; no cartesian anywhere.
  */
object Decontamination {

  /** Per-training-doc count of distinct word `n`-grams shared with the eval
    * set. Tokenization matches [[TextAnalysis.tokens]] (whitespace, empties
    * dropped, lowercased) so the DuckDB oracle composes the same way.
    *
    * @param train corpus side, needs (idCol, text)
    * @param eval  eval-set side, needs (text); assumed small → broadcast
    */
  def sharedGrams(train: DataFrame, eval: DataFrame, n: Int = 5,
                  idCol: String = "doc_id"): DataFrame = {
    val evalGrams = broadcast(grams(eval, n, idCol).select("gram").distinct())
    grams(train, n, idCol).join(evalGrams, "gram")
      .groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("shared_grams"))
  }

  /** Distinct word n-grams per doc, exploded: (idCol, gram). Tokenization
    * matches [[TextAnalysis.tokens]] over lowercased text. */
  private def grams(df: DataFrame, n: Int, idCol: String) = df
    .withColumn("__toks", TextAnalysis.tokens(lower(col("text"))))
    .where(size(col("__toks")) >= n)
    .select(col(idCol), explode(array_distinct(transform(
      sequence(lit(1), size(col("__toks")) - (n - 1)),
      i => array_join(slice(col("__toks"), i, lit(n)), " ")))).as("gram"))

  // r17 note: a one-pass "keep docs with no shared gram" variant (gram
  // explode + broadcast left join + per-doc flag max) was built and
  // A/B'd against the sharedGrams + anti-join two-pass form for p36; it
  // measured SLOWER at sf≈1 in both keying variants (flag aggregation
  // across every gram row costs more than the inner join that drops
  // non-matching grams inside the codegen broadcast probe; the
  // narrow-key form additionally plans a SortAggregate because a string
  // max has no fixed-width buffer), so the two-pass form stays.
  // Numbers in OPTIMIZATION_r17.md.

  /** Span-level eval-leakage SCRUB (r7) — [[sharedGrams]] flags whole
    * documents; this removes the leaked spans themselves and keeps the
    * rest: every training token covered by a k-token window whose content
    * appears anywhere in the eval set is cut, and the doc is reassembled —
    * the surgical decontamination a pipeline wants when a doc is fine
    * except for a quoted benchmark item. Exact-content semantics, the
    * [[Dedup.spanDedup]] policy with "duplicate" replaced by "present in
    * the eval digest set".
    *
    * Scale shape: eval is small by nature → its distinct
    * [[graft.functions.WindowMd5s]] digests BROADCAST; the corpus is ONE
    * kernel scan joined against that broadcast (no corpus-side shuffle for
    * detection), covered positions collapse per matched doc (small), and
    * the [[graft.functions.RemoveTokenPositions]] kernel rewrites matched
    * docs in O(n+r). Returns (doc_id, n_tokens, kept_tokens, text), one
    * row per train doc, text single-space re-joined.
    */
  def scrubEvalSpans(train: DataFrame, evalDocs: DataFrame, k: Int = 16,
      idCol: String = "doc_id"): DataFrame = {
    val t = train.select(col(idCol).as("doc_id"), col("text"))
    val evalW = broadcast(evalDocs
      .select(explode(call_function("window_md5s", col("text"), lit(k)))
        .as("wh"))
      .distinct())
    // spans aggregate as one start per matched window (the r7 second-pass
    // shape); remove_token_spans merges overlapping coverage in-kernel
    val rem = t
      .select(col("doc_id"),
        posexplode(call_function("window_md5s", col("text"), lit(k)))
          .as(Seq("pos", "wh")))
      .join(evalW, "wh")
      .select(col("doc_id").as("rdoc"), col("pos"))
      .groupBy("rdoc")
      .agg(array_sort(collect_set(col("pos"))).as("rem"))
    t.join(rem, t("doc_id") === col("rdoc"), "left")
      .select(col("doc_id"),
        element_at(TextAnalysis.tokenSetHits(col("text"), Nil), 1)
          .cast("long").as("n_tokens"),
        call_function("remove_token_spans", col("text"),
          coalesce(col("rem"), expr("CAST(array() AS ARRAY<INT>)")), lit(k))
          .as("text"))
      .select(col("doc_id"), col("n_tokens"),
        element_at(TextAnalysis.tokenSetHits(col("text"), Nil), 1)
          .cast("long").as("kept_tokens"),
        col("text"))
  }

  /** Semantic (embedding-space) decontamination — the n-gram check's twin
    * for paraphrased leakage: flag corpus vectors whose cosine against ANY
    * eval vector reaches `minCosine`. Same 100 TB shape as [[sharedGrams]]:
    * the eval side is tiny (benchmark suites, not corpora) and broadcasts,
    * the corpus side is one codegen kernel scan over the broadcast pairs +
    * one per-vector partial-aggregated max — no corpus shuffle beyond the
    * final group, no cartesian between big sides.
    *
    * Output per contaminated vector: eval-hit count and the max cosine in
    * exact micro-units (per-pair doubles are engine-deterministic — the
    * sequential-accumulation CosineSim contract; max is order-free).
    *
    * @param corpus (idCol, embedding)
    * @param evals  (evalIdCol, embedding); assumed small → broadcast
    */
  def semanticContaminated(corpus: DataFrame, evals: DataFrame,
      minCosine: Double, idCol: String = "vec_id",
      evalIdCol: String = "eval_id"): DataFrame = {
    val ev = broadcast(evals.select(col(evalIdCol),
      col("embedding").as("__ev")))
    corpus.crossJoin(ev)
      .select(col(idCol),
        call_function("cosine_sim", col("embedding"), col("__ev")).as("__cos"))
      .filter(col("__cos") >= minCosine)
      .groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("eval_hits"),
        max(expr("CAST(round(__cos * 1000000) AS BIGINT)")).as("max_cos_micro"))
  }

  /** Cross-corpus leakage matrix (r7): for every pair of groups (sources /
    * corpus slices / train-vs-benchmark splits), the number of DISTINCT
    * k-token windows both contain — the audit a pipeline runs to find
    * which slices quietly duplicate each other (mirrored crawls, vendored
    * subsets, eval sets leaked into a crawl) before deciding dedup order.
    *
    * Plan shape: one [[graft.functions.WindowMd5s]] kernel scan
    * explodes each document into its k-token window digests, and a
    * `distinct` keeps one (group, digest) row per pair. That frame is
    * self-joined on the digest under a `shuffle_hash` hint, so both join
    * sides come from the same digest-keyed shuffle, which AQE reuses as
    * a `ReusedExchange` (plans/r17/p47_cross_source_overlap_after.txt;
    * the `_before` plan is the broadcast form this replaced, which
    * scanned the corpus twice). `s1 < s2` keeps each unordered group pair once, and the
    * final aggregate counts shared windows per pair. Window content
    * never materializes; only digests are shuffled.
    *
    * Memory: the shuffled hash join holds each partition's build side in
    * an in-memory hash table and does not spill. A digest shared by many
    * groups fans out quadratically in its group count, and a skewed
    * partition must fit in executor memory. The output is per group
    * PAIR, so the operator is only meaningful for group vocabularies
    * whose square fits in a result table. */
  def crossCorpusOverlap(docs: DataFrame, k: Int = 8,
      textCol: String = "text", groupCol: String = "source"): DataFrame = {
    val d = docs.select(col(groupCol).as("__grp"),
      explode(call_function("window_md5s", col(textCol), lit(k))).as("wh"))
      .distinct()
    d.select(col("__grp").as("s1"), col("wh")).hint("shuffle_hash")
      .join(d.select(col("__grp").as("s2"), col("wh")), "wh")
      .filter(col("s1") < col("s2"))
      .groupBy("s1", "s2")
      .agg(count(lit(1)).as("shared_windows"))
  }
}
