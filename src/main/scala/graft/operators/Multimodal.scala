package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing for training-data pipelines (SURVEY §2.11).
  *
  * Media (image/audio/video) travels as opaque `binary` payloads with typed
  * metadata; decode/feature-extraction runs per-partition in batches — the
  * Spark-side shape (schema, partitioning, batch iteration) is real and
  * tested, while the actual codec call is a clearly-marked deterministic
  * STUB (no image/audio libraries ship in this environment).
  */
object Multimodal {

  /** One media object: payload + typed metadata. */
  final case class MediaItem(
      id: Long,
      kind: String, // "image" | "audio" | "video"
      payload: Array[Byte],
      meta: Map[String, String])

  final case class MediaFeatures(
      id: Long,
      kind: String,
      nBytes: Long,
      contentHash: String,
      features: Array[Float])

  val featureDim = 8

  /** STUB decode: a real deployment would decode the payload (JPEG/WAV/MP4)
    * and run feature extraction per batch. Here: deterministic features from
    * the payload bytes, so tests are stable. Replace with a real codec via
    * this single seam. */
  def decodeStub(payload: Array[Byte]): Array[Float] = {
    val md = java.security.MessageDigest.getInstance("MD5").digest(payload)
    Array.tabulate(featureDim) { i =>
      // map digest bytes to [-1, 1)
      (((md(2 * i) & 0xff) << 8 | (md(2 * i + 1) & 0xff)) - 32768) / 32768.0f
    }
  }

  /** Per-partition batched feature extraction. Batches model the vectorized
    * decode call (a GPU/codec batch); partition boundaries are preserved so
    * parallelism = input splits and no shuffle happens.
    *
    * Only the codec call lives inside the `mapPartitions` seam — `nBytes`
    * and `contentHash` are Catalyst `octet_length`/`md5` expressions
    * computed in whole-stage codegen downstream (computing them inside the
    * seam would pull per-row JVM hashing out of codegen for work the engine
    * already has vectorized builtins for). */
  def extractFeatures(items: Dataset[MediaItem], batchSize: Int = 64): Dataset[MediaFeatures] = {
    import items.sparkSession.implicits._
    // codec seam: payload in, features out; payload rides through once so
    // the metadata expressions below can consume it without a join
    val decoded = items.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // one "vectorized" decode call per batch
        val feats = batch.map(m => decodeStub(m.payload))
        batch.lazyZip(feats).map((m, f) => (m.id, m.kind, m.payload, f))
      }
    }.toDF("id", "kind", "payload", "features")
    decoded.select(
        col("id"), col("kind"),
        octet_length(col("payload")).cast("long").as("nBytes"),
        lower(md5(col("payload"))).as("contentHash"),
        col("features"))
      .as[MediaFeatures]
  }

  /** Multimodal near-dup pairs (r7): perceptual-hash-style dedup over the
    * opaque `binary` payload column — the image-dedup analog of the token
    * simhash (p04). Each payload gets a portable 60-bit
    * [[graft.functions.ByteShingleSimhash]] signature (one codegen byte
    * scan — byte edits that leave most shingles intact land at small
    * hamming distance); candidate pairs come from the same
    * pigeonhole-EXACT banding as [[Dedup.simhashPairs]], so the output is
    * the full deterministic hamming-threshold pair set, never an
    * approximation: an equi-join on (band, bits), no all-pairs shape.
    * Returns (d1, d2, hamming). Byte-identical payloads collapse to one
    * banding representative and expand afterwards (the p04 fix — a corpus
    * of k-fold copies would otherwise push k² band collisions per
    * cluster; at sf≈1's 10-fold fixture copies: 24 s → ~4 s). A
    * production deployment would swap the byte-shingle kernel for a
    * decoded-pixel phash at the same seam. */
  def binarySimhashPairs(items: DataFrame, shingle: Int = 4,
      maxHamming: Int = 3, bands: Int = 4,
      idCol: String = "id", payloadCol: String = "payload"): DataFrame = {
    val sigs = items.select(col(idCol).as("id"),
      md5(col(payloadCol)).as("__h"),
      call_function("byte_shingle_simhash", col(payloadCol), lit(shingle))
        .as("sh"))
    Dedup.simhashPairsFromSigs(sigs, maxHamming, bands, collapseExact = true)
  }

  /** Fixture adapter: documents.text as fake media payloads (the container
    * has no binary media fixture; the plumbing is what's under test). */
  def mediaFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[MediaItem] = {
    import spark.implicits._
    docs.select(
        col("doc_id").as("id"),
        lit("image").as("kind"),
        col("text").cast("binary").as("payload"),
        map(lit("source"), col("source"), lit("lang"), col("lang")).as("meta"))
      .as[MediaItem]
  }

  /** Frame-level dedup across media items (r7): chunk each payload into
    * fixed-size aligned frames, keep the globally FIRST occurrence of each
    * frame's content, report per item how much survives — the video/audio
    * analog of [[graft.operators.Dedup.spanDedup]] for the repeated-intro/
    * watermark/shared-stock-frame case, at exact-content granularity.
    * Operates on a STRING payload column here (the fixture's payloads are
    * ASCII, probe-verified octet_length = length in p44 — char chunks ARE
    * byte frames; a production binary column plugs in via the
    * [[extractFeatures]] decode seam with `encode`/`substr`-on-binary).
    *
    * Scale shape: frames are non-overlapping (corpus size / frameBytes
    * rows, ~64× smaller than a sliding-window explode), the keep-first
    * rank partitions by frame-content hash (the [[graft.operators.Dedup
    * .lineDedup]] shape — a frame duplicated across millions of items is
    * ONE partition), and the reassembly partitions by item id. Two keyed
    * shuffles plus one id-keyed join to restore fully-deduped items.
    * Returns (id, n_frames, kept_frames, payload). */
  def frameDedup(items: DataFrame, frameBytes: Int = 64,
      payloadCol: String = "payload", idCol: String = "id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r8 shape: only 16-byte FRAME DIGESTS shuffle — the md5 is computed
    // inside the scan's transform() so frame CONTENT never leaves the
    // scan, the keep-first window runs over (id, idx, digest), and kept
    // payloads are rebuilt LOCALLY by cutting removed frame indexes out
    // of the original column (the remove_token_spans posture at byte
    // granularity). The previous window-then-regroup plan shuffled full
    // frame content twice (measured 2.07 s → this form at sf≈1).
    val d = items.select(col(idCol).as("id"), col(payloadCol).as("p"))
    val withN = d.withColumn("__nf",
      ceil(length(col("p")) / lit(frameBytes)).cast("int"))
    val hashes = withN.where(col("__nf") > 0)
      .select(col("id"), posexplode(transform(
        sequence(lit(0), col("__nf") - 1),
        i => md5(substring(col("p"), (i * frameBytes + 1).cast("int"),
          lit(frameBytes))))).as(Seq("idx", "h")))
    val keepFirst = Window.partitionBy("h").orderBy("id", "idx")
    val removed = hashes.withColumn("__rn", row_number().over(keepFirst))
      .filter(col("__rn") > 1)
      .groupBy(col("id"))
      .agg(array_sort(collect_list(col("idx"))).as("rem"))
    val emptyInts = expr("CAST(array() AS ARRAY<INT>)")
    withN.join(removed, Seq("id"), "left")
      .select(col("id"), col("__nf").cast("long").as("n_frames"),
        (col("__nf") - coalesce(size(col("rem")), lit(0))).cast("long")
          .as("kept_frames"),
        when(col("__nf") === 0, lit(""))
          .otherwise(concat_ws("", transform(
            filter(sequence(lit(0), col("__nf") - 1),
              i => !array_contains(coalesce(col("rem"), emptyInts), i)),
            i => substring(col("p"), (i * frameBytes + 1).cast("int"),
              lit(frameBytes))))).as("payload"))
  }
}
