package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Removal-provenance ledger (r8 — VERDICT r7 #5): every destructive
  * curation op gains an optional ledgered variant returning BOTH the kept
  * frame and a ledger of what was removed and why, in one unified shape
  *
  *   (doc_id, op, reason, detail, removed_tokens)
  *
  * so a composed pipeline can prove token-accounting consistency:
  * input tokens = kept tokens + Σ ledgered tokens, per document. This is
  * the reproducibility surface a real training-data pipeline audits —
  * the engine already computes every ingredient; the ledger is the
  * bookkeeping.
  *
  * Scale shape: each ledger is a BY-PRODUCT of the op's own plan (the
  * anti-join complement, the gate's inverse filter, the span family's
  * n_tokens − kept_tokens) — no second corpus pass, no extra shuffle
  * beyond the op's own. `detail` is op-specific (keeper id for dedup,
  * token count for gates, kept tokens for span ops). */
object Ledger {

  private val ledgerCols =
    Seq("doc_id", "op", "reason", "detail", "removed_tokens")

  private def tokens(c: Column): Column =
    element_at(TextAnalysis.tokenSetHits(c, Nil), 1).cast("long")

  /** Exact-duplicate collapse (p01's op), ledgered: keeps the min-id doc
    * per content hash; every other copy is ledgered with its keeper id. */
  def exactDedup(docs: DataFrame): (DataFrame, DataFrame) = {
    val w = Window.partitionBy(col("__h"))
    val marked = docs
      .withColumn("__h", md5(col("text")))
      .withColumn("__keep", min(col("doc_id")).over(w))
    val kept = marked.filter(col("doc_id") === col("__keep"))
      .select("doc_id", "text")
    val ledger = marked.filter(col("doc_id") =!= col("__keep"))
      .select(col("doc_id"), lit("dedup_exact").as("op"),
        lit("duplicate").as("reason"), col("__keep").cast("long").as("detail"),
        tokens(col("text")).as("removed_tokens"))
    (kept, ledger)
  }

  /** Minimum-token gate (the p31/p53 family), ledgered: documents under
    * the threshold are removed whole and ledgered with their count. */
  def minTokenGate(docs: DataFrame, minTokens: Int): (DataFrame, DataFrame) = {
    val withN = docs.withColumn("__nt", tokens(col("text")))
    val kept = withN.filter(col("__nt") >= minTokens).select("doc_id", "text")
    val ledger = withN.filter(col("__nt") < minTokens)
      .select(col("doc_id"), lit("gate").as("op"),
        lit("min_tokens").as("reason"), col("__nt").as("detail"),
        col("__nt").as("removed_tokens"))
    (kept, ledger)
  }

  /** Span-level dedup (p43's op), ledgered: duplicate k-token windows are
    * cut keep-first; the per-doc ledger row carries the cut token count
    * (n_tokens − kept_tokens) and the surviving count as detail. Docs
    * with nothing removed get no ledger row. */
  def spanDedup(docs: DataFrame, k: Int = 16): (DataFrame, DataFrame) = {
    val out = Dedup.spanDedup(docs, k)
    val kept = out.select(col("doc_id"), col("text"), col("kept_tokens"))
    val ledger = out.filter(col("kept_tokens") < col("n_tokens"))
      .select(col("doc_id"), lit("span_dedup").as("op"),
        lit("dup_window").as("reason"), col("kept_tokens").as("detail"),
        (col("n_tokens") - col("kept_tokens")).as("removed_tokens"))
    (kept, ledger)
  }

  /** Line-level dedup (p29's op), ledgered: repeated lines (global
    * keep-first) are cut; the ledger row carries the cut token count and
    * the number of removed lines as detail. */
  def lineDedup(docs: DataFrame, sep: String = "\n"): (DataFrame, DataFrame) = {
    // token counts treat the line separator as whitespace (the kernel
    // splits on ' ' only), so a removed line's tokens are counted the
    // same whether it sat mid-document or at an edge
    def flatTokens(c: Column): Column =
      tokens(concat_ws(" ", split(c, java.util.regex.Pattern.quote(sep))))
    val orig = docs.select(col("doc_id"),
      flatTokens(col("text")).as("__nt0"),
      size(split(col("text"), java.util.regex.Pattern.quote(sep))).as("__nl0"))
    val out = Dedup.lineDedup(docs, sep)
    // LEFT join from orig: a doc that loses EVERY line is absent from the
    // dedup output but must still be ledgered (full-token removal), never
    // silently dropped
    val joined = orig.join(out, Seq("doc_id"), "left")
    val kept = joined.filter(col("kept_lines").isNotNull)
      .select(col("doc_id"), col("text"))
    val ledger = joined
      .withColumn("__kl", coalesce(col("kept_lines"), lit(0L)))
      .withColumn("__ntk", coalesce(flatTokens(col("text")), lit(0L)))
      .filter(col("__nl0") > col("__kl"))
      .select(col("doc_id"), lit("line_dedup").as("op"),
        lit("dup_line").as("reason"),
        (col("__nl0") - col("__kl")).as("detail"),
        (col("__nt0") - col("__ntk")).as("removed_tokens"))
    (kept, ledger)
  }

  /** The p59 composed chain: exact dedup → min-token gate → span dedup,
    * each step feeding the next's input and contributing ledger rows.
    * Returns (kept frame with kept_tokens, unified ledger). */
  def curationChain(docs: DataFrame, minTokens: Int = 40, k: Int = 16)
      : (DataFrame, DataFrame) = {
    val (s1, l1) = exactDedup(docs)
    val (s2, l2) = minTokenGate(s1, minTokens)
    val (s3, l3) = spanDedup(s2, k)
    (s3, l1.unionByName(l2).unionByName(l3))
  }
}
