package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY §2.10).
  *
  * The reference's "streaming" is concurrent Flight inserts polled by
  * repeated COUNT(*) queries (`/root/reference/examples/flight_insert.py:73-95`,
  * `flight_watch.py:43-66`) — no watermarks, windows, or state. This module
  * keeps that parity path (appends to a table are immediately visible to
  * queries — plain Spark behavior the HTTP layer already provides) and adds
  * the real streaming operators a training-data pipeline needs:
  *
  *  - tumbling/sliding-window aggregation with event-time watermarks
  *  - streaming dedup (`dropDuplicates` within the watermark)
  *  - sessionization via `flatMapGroupsWithState` (custom state machine)
  *
  * All transforms are source-agnostic: they take the streaming DataFrame,
  * so the same code runs from `spark.readStream.parquet(dir)` (the file
  * source mirrors the reference's append-a-table pattern), Kafka, or a
  * MemoryStream in tests. At scale the state store shards by
  * `groupBy`/`groupByKey` key — the same partitioning discipline as the
  * batch operators.
  */
object Streaming {

  /** Events-per-window aggregation: 1-minute tumbling windows, 10-minute
    * watermark for late data. Output schema: window_start, window_end,
    * event_type, c, total. */
  def windowedCounts(events: DataFrame,
      windowLen: String = "1 minute",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count("*").as("c"), sum("value").as("total"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("c"), col("total"))

  /** Streaming exact dedup on a key within the watermark horizon — the
    * streaming form of [[graft.operators.Dedup.exact]]: state is bounded by
    * the watermark, so it runs forever without unbounded state growth. */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicates(keyCols :+ "ts")

  /** Streaming NEAR-dup suppression — the streaming companion of
    * [[graft.operators.Dedup.minhashPairs]]: a document whose full minhash
    * signature matches one already seen inside the watermark horizon is
    * dropped (identical signature across all hashes ≈ near-certain
    * duplicate; ingest pipelines use this as the cheap first filter before
    * batch LSH). Signature state is one long per doc, bounded by the
    * watermark via `dropDuplicatesWithinWatermark`. */
  def dedupNearStream(docs: DataFrame,
      textCol: String = "text",
      tsCol: String = "ts",
      shingleSize: Int = 3,
      numHashes: Int = 16,
      watermark: String = "10 minutes"): DataFrame = {
    val toks = filter(split(lower(col(textCol)), " "), t => t =!= "")
    docs
      .withColumn("__graft_sig", xxhash64(
        graft.functions.GraftFunctions.minhash_tokens_sig(toks, shingleSize, numHashes)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__graft_sig")
      .drop("__graft_sig")
  }

  /** Streaming URL-level dedup — the continuous twin of
    * [[graft.operators.UrlOps.urlDedup]]: each URL canonicalizes through
    * the same codegen kernel (fragment/default-port/utm strip, lowercase
    * scheme+host, sorted query params) and cosmetic re-crawls of a page
    * already seen inside the watermark horizon are dropped. State is one
    * canonical string per kept URL, bounded by the watermark. */
  def urlDedupStream(pages: DataFrame,
      urlCol: String = "url",
      tsCol: String = "ts",
      watermark: String = "10 minutes"): DataFrame = {
    pages
      .withColumn("__graft_canon",
        graft.operators.UrlOps.canonicalUrl(col(urlCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__graft_canon")
  }

  /** Streaming corpus curation — the continuous form of
    * [[graft.operators.TextAnalysis.curate]]: quality gate (min token
    * count) → language gate → exact-dedup-within-watermark on the content
    * hash. The gates are stateless codegen filters; the only state is one
    * hash per kept doc, bounded by the watermark — so an ingest pipeline
    * can run this forever in front of the batch dedup passes. */
  def curateStream(docs: DataFrame,
      minTokens: Int = 40,
      lang: String = "en",
      textCol: String = "text",
      tsCol: String = "ts",
      watermark: String = "10 minutes"): DataFrame = {
    import graft.operators.TextAnalysis
    val toks = filter(split(lower(col(textCol)), " "), t => t =!= "")
    val withHits = TextAnalysis.langStopwords.foldLeft(docs.withColumn("__toks", toks)) {
      case (df, (l, words)) =>
        val sw = array(words.map(lit): _*)
        df.withColumn(s"__$l", size(filter(col("__toks"), t => array_contains(sw, t))))
    }
    withHits
      .withColumn("__pred",
        expr("""CASE WHEN __en >= __de AND __en >= __fr AND __en >= __es THEN 'en'
               |WHEN __de >= __fr AND __de >= __es THEN 'de'
               |WHEN __fr >= __es THEN 'fr' ELSE 'es' END""".stripMargin))
      .filter(TextAnalysis.tokenCount(col(textCol)) >= minTokens && col("__pred") === lang)
      .withColumn("__h", md5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__h")
      .drop("__toks", "__en", "__de", "__fr", "__es", "__pred", "__h")
  }

  /** Stream–static enrichment: a streaming feed joined to a static,
    * broadcast-sized dimension (per-source metadata, mixture weights,
    * allow/deny lists). The static side broadcasts — each micro-batch pays
    * a map-side hash join, no shuffle, no state store. At cluster scale
    * this is the standard pattern for attaching curation metadata to a
    * live ingest feed; the static side can be refreshed by restarting the
    * query (Spark re-plans the static relation per run). */
  def enrichStream(stream: DataFrame, dim: DataFrame,
      key: String = "source"): DataFrame =
    stream.join(broadcast(dim), key)

  /** Stream–stream event-time interval join (r7 session 3): correlate two
    * live feeds on a key within a time bound — the canonical "document
    * arrives on one feed, its annotation/score arrives on another" shape
    * of a streaming curation pipeline. Both sides carry watermarks and the
    * join condition bounds right.ts to [left.ts, left.ts + withinMs], so
    * Spark's symmetric hash join can EVICT state once the watermark passes
    * a row's bound — state stays O(in-flight window), never unbounded.
    * Inner join: unmatched rows age out silently (the left-outer variant
    * emits them with NULLs at watermark expiry — same state contract). */
  def correlateStreams(left: DataFrame, right: DataFrame, key: String,
      withinMs: Long, leftTs: String = "ts", rightTs: String = "rts",
      watermark: String = "10 seconds", joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r,
      l(key) === r(key) &&
        r(rightTs) >= l(leftTs) &&
        r(rightTs) <= l(leftTs) + expr(s"INTERVAL $withinMs MILLISECONDS"),
      joinType)
      .drop(r(key))
  }

  /** Streaming span-level decontamination (r7): the continuous form of
    * [[graft.operators.Decontamination.scrubEvalSpans]] — every incoming
    * doc loses tokens covered by a k-token window present in the (static,
    * small-by-nature) eval set. STATELESS: the eval window digests are
    * collected once at plan time into a literal array, so the whole scrub
    * is per-row column expressions (kernel scan + array_position probes +
    * remove_token_spans) — no shuffle, no state store, no watermark
    * needed; each micro-batch pays one codegen pass. This is the
    * small-eval-set form ([[ScrubLiteralMaxDigests]]); above the
    * threshold use [[scrubBatchBroadcast]] (or let [[scrubStreamAuto]]
    * pick), whose byte-identical output is spec-asserted. */
  def scrubStream(docs: DataFrame, evalDocs: DataFrame, k: Int = 16,
      textCol: String = "text"): DataFrame = {
    val evalW = evalDocs
      .select(explode(call_function("window_md5s", col(textCol), lit(k))).as("wh"))
      .distinct().collect().map(_.getAs[Array[Byte]]("wh"))
    if (evalW.isEmpty) return docs
    val evalArr = array(evalW.map(lit(_)): _*)
    val starts = filter(
      transform(call_function("window_md5s", col(textCol), lit(k)),
        (wh, i) => when(array_position(evalArr, wh) > 0, i).otherwise(lit(-1))),
      p => p >= 0)
    docs
      .withColumn("__starts", starts)
      .withColumn(textCol,
        call_function("remove_token_spans", col(textCol), col("__starts"), lit(k)))
      .drop("__starts")
  }

  /** Digest-count threshold for the literal-probe scrub (r9, documented
    * contract): at or below this many distinct eval window digests the
    * plan-literal array + `array_position` probe wins — one stateless
    * expression, no join, and the O(|eval|) linear probe is trivial.
    * Above it the literal bloats every task binary and the per-window
    * probe cost dominates — use [[scrubBatchBroadcast]], whose broadcast
    * hash relation ships once per executor and probes O(1). Benchmarks
    * are thousands of windows (literal side); 10M-window eval sets are
    * the broadcast case. */
  val ScrubLiteralMaxDigests = 4096L

  /** The eval-side digest frame for [[scrubBatchBroadcast]] — compute
    * once, cache/persist, reuse across micro-batches. */
  def scrubEvalDigests(evalDocs: DataFrame, k: Int = 16,
      textCol: String = "text"): DataFrame = {
    evalDocs
      .select(explode(call_function("window_md5s", col(textCol), lit(k))).as("wh"))
      .distinct()
  }

  /** Broadcast twin of [[scrubStream]] (r9, VERDICT r8 #6):
    * byte-identical output, the eval digests joined as a BROADCAST hash
    * relation instead of a plan-literal array. The per-doc span regroup
    * is an aggregation, which a pure streaming plan would pay in state
    * store; the twin is therefore the foreachBatch idiom — apply this
    * function to each micro-batch:
    * {{{
    * docs.writeStream.foreachBatch { (b: DataFrame, _: Long) =>
    *   Streaming.scrubBatchBroadcast(b, digests, k).write.(...)
    * }
    * }}}
    * Still no state store and no watermark — each batch pays one
    * broadcast join + one batch-local aggregation. `idCol` must identify
    * rows uniquely within a batch (span sets regroup by it). Also usable
    * as a plain batch operator. */
  def scrubBatchBroadcast(batch: DataFrame, evalDigests: DataFrame,
      k: Int = 16, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val starts = batch
      .select(col(idCol).as("__sid"),
        posexplode(call_function("window_md5s", col(textCol), lit(k)))
          .as(Seq("__i", "__wh")))
      .join(broadcast(evalDigests.select(col("wh").as("__wh"))), "__wh")
      .groupBy("__sid")
      // ascending distinct starts — the exact set (and order) the literal
      // form's index-preserving filter produces
      .agg(array_sort(collect_set(col("__i"))).as("__starts"))
    batch.join(starts, batch(idCol) === col("__sid"), "left")
      .withColumn(textCol,
        call_function("remove_token_spans", col(textCol),
          coalesce(col("__starts"), expr("CAST(array() AS ARRAY<INT>)")),
          lit(k)))
      .drop("__sid", "__starts")
  }

  /** How [[scrubStreamAuto]] answered: either an inline stateless
    * streaming frame (literal probe), or the broadcast per-batch form to
    * run under foreachBatch. */
  sealed trait ScrubPlan
  final case class ScrubInline(stream: DataFrame) extends ScrubPlan
  final case class ScrubPerBatch(digests: DataFrame,
      scrub: DataFrame => DataFrame) extends ScrubPlan

  /** Auto-selected scrub (r9): counts the distinct eval digests once; at
    * or below `maxLiteralDigests` ([[ScrubLiteralMaxDigests]]) returns
    * the stateless literal-probe stream, above it the cached digest frame
    * plus the [[scrubBatchBroadcast]] closure for foreachBatch. */
  def scrubStreamAuto(docs: DataFrame, evalDocs: DataFrame, k: Int = 16,
      textCol: String = "text", idCol: String = "doc_id",
      maxLiteralDigests: Long = ScrubLiteralMaxDigests): ScrubPlan = {
    val digests = scrubEvalDigests(evalDocs, k, textCol).cache()
    val n = digests.count()
    if (n <= maxLiteralDigests) {
      digests.unpersist()
      ScrubInline(scrubStream(docs, evalDocs, k, textCol))
    } else
      ScrubPerBatch(digests,
        b => scrubBatchBroadcast(b, digests, k, textCol, idCol))
  }

  /** Ledgered [[scrubStream]] (r8 — the streaming twin of
    * [[graft.operators.Ledger]]): the same stateless per-row scrub, plus a
    * SECOND output stream carrying the removal provenance — (doc_id, op,
    * reason, detail = spans cut, removed_tokens) for every doc that lost
    * tokens. Both outputs are per-row column expressions over the same
    * source (no shuffle, no state store); each can drive its own sink, so
    * the curated stream and its audit trail commit independently. */
  def scrubStreamLedgered(docs: DataFrame, evalDocs: DataFrame, k: Int = 16,
      textCol: String = "text", idCol: String = "doc_id")
      : (DataFrame, DataFrame) = {
    val evalW = evalDocs
      .select(explode(call_function("window_md5s", col(textCol), lit(k))).as("wh"))
      .distinct().collect().map(_.getAs[Array[Byte]]("wh"))
    if (evalW.isEmpty)
      return (docs, docs.filter(lit(false)).select(col(idCol),
        lit("decontam_span").as("op"), lit("eval_window").as("reason"),
        lit(0L).as("detail"), lit(0L).as("removed_tokens")))
    val evalArr = array(evalW.map(lit(_)): _*)
    val starts = filter(
      transform(call_function("window_md5s", col(textCol), lit(k)),
        (wh, i) => when(array_position(evalArr, wh) > 0, i).otherwise(lit(-1))),
      p => p >= 0)
    def nTokens(c: Column): Column =
      element_at(call_function("token_set_hits", c), 1).cast("long")
    val marked = docs
      .withColumn("__starts", starts)
      .withColumn("__nt0", nTokens(col(textCol)))
      .withColumn(textCol,
        call_function("remove_token_spans", col(textCol), col("__starts"), lit(k)))
    val kept = marked.drop("__starts", "__nt0")
    val ledger = marked.filter(size(col("__starts")) > 0)
      .select(col(idCol), lit("decontam_span").as("op"),
        lit("eval_window").as("reason"),
        size(col("__starts")).cast("long").as("detail"),
        (col("__nt0") - nTokens(col(textCol))).as("removed_tokens"))
    (kept, ledger)
  }

  /** Continuous form of p60's dataset card (r8): running per-source
    * corpus statistics — docs, tokens, language-vote counts — as a
    * streaming aggregation in update/complete mode. The per-row work is
    * the same ONE token_set_hits kernel pass as the batch op; state is
    * one small row per source (bounded by source cardinality, no
    * watermark needed for an all-time running manifest). Exact medians
    * and distinct-hash dup counts stay batch-only (both need unbounded
    * per-group state); the streaming card carries the algebraic subset. */
  def datasetCardStream(docs: DataFrame, textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    val sets = graft.operators.TextAnalysis.langStopwords
    val h = graft.operators.TextAnalysis.tokenSetHits(
      lower(col(textCol)), sets.map(_._2))
    docs
      .withColumn("__hits", h)
      .select(col(sourceCol).as("source"),
        element_at(col("__hits"), 1).cast("long").as("__nt"),
        element_at(col("__hits"), 2).as("__en"),
        element_at(col("__hits"), 3).as("__de"),
        element_at(col("__hits"), 4).as("__fr"),
        element_at(col("__hits"), 5).as("__es"))
      .withColumn("__pred", expr(
        """CASE WHEN __en >= __de AND __en >= __fr AND __en >= __es THEN 'en'
          |WHEN __de >= __fr AND __de >= __es THEN 'de'
          |WHEN __fr >= __es THEN 'fr' ELSE 'es' END""".stripMargin))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("__nt").as("total_tokens"),
        sum(when(col("__pred") === "en", 1L).otherwise(0L)).as("en_docs"),
        sum(when(col("__pred") === "de", 1L).otherwise(0L)).as("de_docs"),
        sum(when(col("__pred") === "fr", 1L).otherwise(0L)).as("fr_docs"),
        sum(when(col("__pred") === "es", 1L).otherwise(0L)).as("es_docs"))
  }

  /** Continuous form of p53's char-entropy spam gate: each micro-batch is
    * ONE stateless codegen pass over the kernel (no shuffle, no state
    * store, no watermark — the scrubStream posture). Emits the per-doc
    * entropy so downstream sinks can audit the gate. */
  def entropyGateStream(docs: DataFrame, minBits: Double = 4.0,
      textCol: String = "text"): DataFrame = {
    docs
      .withColumn("ent_bits", call_function("char_entropy", col(textCol)))
      .filter(col("ent_bits") >= minBits)
  }

  // ---- sessionization ---------------------------------------------------

  final case class Event(user_id: Long, ts: java.sql.Timestamp, event_type: String, value: Double)
  final case class SessionState(start: Long, lastTs: Long, events: Int, total: Double)
  final case class UserSession(user_id: Long, start_ms: Long, end_ms: Long,
      n_events: Int, total_value: Double)

  /** Gap-based sessionization: a session closes after `gapMs` of user
    * inactivity (enforced via event-time timeout, so it also closes from
    * watermark progress alone). The canonical
    * `flatMapGroupsWithState` pattern — state is one small record per live
    * user, sharded by the group key. */
  def sessionize(events: Dataset[Event], gapMs: Long): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(UserSession(userId, s.start, s.lastTs, s.events, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var out = List.empty[UserSession]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastTs <= gapMs =>
                  cur = Some(s.copy(lastTs = math.max(s.lastTs, t),
                    events = s.events + 1, total = s.total + e.value))
                case Some(s) =>
                  out ::= UserSession(userId, s.start, s.lastTs, s.events, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastTs + gapMs)
            }
            out.reverseIterator
          }
      }
  }

  /** Reference-parity concurrent ingest/poll (README.md:14): append batches
    * to a parquet dir while a reader re-counts — the file stream source
    * makes the "watch" side a real continuous query instead of a poll loop. */
  def watchCounts(spark: SparkSession, dir: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema).parquet(dir)
      .groupBy(col("event_type")).count()
}
