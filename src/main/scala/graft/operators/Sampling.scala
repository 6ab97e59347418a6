package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines (SURVEY §2.11 north
  * star, round 4). `ORDER BY random()` is not reproducible across engines or
  * runs; hashing a stable key is — the same rows are kept on every engine,
  * every run, every cluster size, which is what corpus curation needs
  * (resumable sampling, cross-engine-auditable subsets).
  *
  * Scale: a pure codegen'd filter on a scan — no shuffle, no state, prunes
  * to the key + payload columns. At 100 TB it is exactly as parallel as the
  * input splits.
  */
object Sampling {

  /** Keep rows whose md5(key) first hex digit < `rate16` (of 16) — an
    * engine-portable 1/16-granularity Bernoulli sample keyed on `key`. */
  def hashSampleFilter(key: Column, rate16: Int): Column = {
    require(rate16 >= 0 && rate16 <= 16, s"rate16 must be 0..16, got $rate16")
    // single hex chars compare correctly lexically ('0'..'9' < 'a'..'f');
    // 16 would render as the two-char "10" and break that, so short-circuit
    if (rate16 == 16) lit(true)
    else substring(md5(key.cast("string")), 1, 1) < lit(rate16.toHexString)
  }

  /** Stratified deterministic sample: per-stratum keep rates (in 16ths),
    * e.g. downsample a dominant language while keeping the tail — the
    * rebalancing step of corpus curation. Strata absent from `rates` fall
    * back to `defaultRate16`. */
  def stratifiedSample(df: DataFrame, key: Column, stratum: Column,
                       rates: Map[String, Int], defaultRate16: Int): DataFrame = {
    val keep = rates.foldLeft(
      hashSampleFilter(key, defaultRate16)) { case (els, (value, r)) =>
      when(stratum === value, hashSampleFilter(key, r)).otherwise(els)
    }
    df.where(keep)
  }

  /** Rebalance a multi-source corpus to a uniform mixture: every source is
    * downsampled to the smallest source's count, with rates derived from
    * the corpus itself (vs [[stratifiedSample]]'s caller-given rates).
    * Selection inside a source ranks by (md5(id), id) — a stable hash
    * shuffle, so the subset is reproducible on any engine or cluster size.
    * Cost: one tiny per-source count agg broadcast back, plus one
    * source-keyed rank window. */
  def balanceSources(docs: DataFrame, idCol: String = "doc_id",
      srcCol: String = "source"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val minN = docs.groupBy(srcCol).count().agg(min("count").as("__m"))
    val w = Window.partitionBy(srcCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    docs.withColumn("__rk", row_number().over(w))
      .crossJoin(broadcast(minN))
      .filter(col("__rk") <= col("__m"))
      .drop("__rk", "__m")
  }

  /** Temperature-weighted mixture sampling: keep ~`totalKeep` docs with
    * per-stratum quotas ∝ n_s^0.5 — the standard temperature flattening
    * (alpha = 1/2) that up-weights tail domains relative to proportional
    * sampling. Determinism across engines: per-stratum weights are
    * sqrt(n) quantized to exact micro-integers (IEEE sqrt is correctly
    * rounded, so both engines produce the same BIGINT), the weight total
    * is an exact integer sum, and each quota is one double division of
    * exact integers — no float accumulation anywhere. Selection inside a
    * stratum is (md5(id), id) hash-rank, so the kept subset is stable on
    * any engine or cluster size. A quota larger than the stratum keeps the
    * whole stratum (budget unmet, like a short token stream).
    * Cost: one tiny per-stratum count agg (broadcast back) + one
    * stratum-keyed rank window — the [[balanceSources]] shape. */
  def temperatureMix(docs: DataFrame, totalKeep: Long,
      idCol: String = "doc_id", srcCol: String = "source"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wts = docs.groupBy(srcCol).count()
      .select(col(srcCol),
        expr("CAST(round(sqrt(CAST(count AS DOUBLE)) * 1000000) AS BIGINT)").as("__w"))
    val tot = wts.agg(sum("__w").as("__tw"))
    val quota = wts.crossJoin(broadcast(tot))
      .select(col(srcCol),
        expr(s"CAST(round($totalKeep * CAST(__w AS DOUBLE) / CAST(__tw AS DOUBLE)) AS BIGINT)")
          .as("src_quota"))
    val w = Window.partitionBy(srcCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    docs.withColumn("__rk", row_number().over(w))
      .join(broadcast(quota), Seq(srcCol))
      .filter(col("__rk") <= col("src_quota"))
      .select(col(idCol), col(srcCol), col("src_quota"))
  }

  /** Deterministic output sharding — the training-shard writer step: every
    * doc lands in shard md5(id)-hash % nShards, so shard membership is
    * reproducible across engines, runs, and cluster sizes (resumable
    * writes, cross-engine-auditable shards) and independent of input
    * partitioning. Returns per-shard stats (doc count + token sum); the
    * write path itself is `repartition(nShards, col("shard"))` + write,
    * which this same hash key makes co-located. Cost: one codegen scan +
    * one nShards-group agg — map-side combined, no wide shuffle. */
  def shardStats(docs: DataFrame, nShards: Int,
      idCol: String = "doc_id"): DataFrame = {
    val shard = (conv(substring(md5(col(idCol).cast("string")), 1, 6), 16, 10)
      .cast("long") % nShards).as("shard")
    docs.select(shard,
        TextAnalysis.tokenCount(col("text")).cast("long").as("__t"),
        col(idCol))
      .groupBy("shard")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum("__t").cast("long").as("n_tokens"),
        min(idCol).as("first_id"))
      .orderBy("shard")
  }

  /** Token-budget mixture sampling: cap each stratum (source) at a TOKEN
    * budget rather than a document count — training-mixture weights are
    * token weights ([[balanceSources]]'s equalized doc counts skew toward
    * long-doc sources). Docs are admitted in (md5(id), id) hash order
    * until the stratum's cumulative token count reaches the budget; a doc
    * is kept iff it STARTS inside the budget, so the first doc of a
    * stratum always survives and the subset is deterministic on any
    * engine or cluster size. One source-keyed window — never a global
    * sort; `start_tok` doubles as the doc's offset in the stratum's
    * packed token stream. */
  def tokenBudgetSample(docs: DataFrame, budgetTokens: Long,
      idCol: String = "doc_id", srcCol: String = "source"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(srcCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    docs.select(col(idCol), col(srcCol),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("__cum", sum("n_tokens").over(w))
      .filter(col("__cum") - col("n_tokens") < budgetTokens)
      .withColumn("start_tok", (col("__cum") - col("n_tokens")).cast("long"))
      .drop("__cum")
  }
}
