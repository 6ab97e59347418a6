package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The timing protocol shared by `graft.Bench`, [[TimeQuery]] and
  * [[FloorProbe]]: run an entry to completion through the `noop` sink,
  * time that run alone, then drop the blocks it left behind outside the
  * timed interval. Warmup and min-of-N are the callers' loops over
  * [[timed]]. */
object Measure {

  // Checkpoint-heavy operators (minhash/simhash/embedding dedup, prefix
  // bucketing, components) persist localCheckpoint blocks into the shared
  // session and never release them — left alone, a full sweep accumulates
  // gigabytes of dead blocks and the 8g driver heap thrashes, inflating
  // UNRELATED queries late in the run 10-20× (measured at sf≈1). Dropping
  // persisted RDDs between entries keeps each timing honest: a query
  // still pays for its own checkpoints inside its own interval, and one
  // that persists (e.g. p34's token-stream cache) is not flattered by
  // reuse in its later iterations.
  def dropLeftoverBlocks(spark: SparkSession): Unit = {
    // blocking: async eviction would otherwise bleed into the next
    // query's timed interval
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    // Broadcast blocks have no direct drop API — ContextCleaner reaps
    // them only after their driver-side references are GC'd. Queries
    // that broadcast big hashed relations (the r5 Q18/Q21 heavies: a
    // ~1.5M-key IN-subquery side at sf≈1) otherwise pin hundreds of MB
    // in the shared 8g heap and inflate every LATER entry's timing
    // (measured: entries after q130 ran at a median 1.71× of their
    // standalone time; entries before it 1.09×). Runs outside the
    // timed interval.
    System.gc()
  }

  /** Materializes every row of `df` through the `noop` sink — not
    * `count()`, which lets Catalyst prune the whole plan to a metadata
    * scan. */
  def runNoop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One run: wall seconds and the failure, if the run threw. */
  final case class Timing(seconds: Double, failure: Option[Throwable]) {
    /** The seconds of a run that passed; rethrows a failed run's error. */
    def orThrow: Double = { failure.foreach(throw _); seconds }
  }

  /** Times `run` (the entry's build and its noop-sink execution), then
    * drops leftover blocks outside the timed interval. A failure is
    * returned, not thrown, so a sweep goes on past a broken entry. */
  def timed(spark: SparkSession)(run: => Unit): Timing = {
    val t0 = System.nanoTime()
    val failure =
      try { run; None }
      catch { case e: Throwable => Some(e) }
    val seconds = (System.nanoTime() - t0) / 1e9
    dropLeftoverBlocks(spark)
    Timing(seconds, failure)
  }
}
