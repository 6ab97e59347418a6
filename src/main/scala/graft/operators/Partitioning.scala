package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Partitioning/skew utilities for the 100 TB posture (SURVEY §7.5 item 8).
  *
  * AQE's skew-join splitting handles most runtime skew; these helpers cover
  * the two cases it can't: aggregation skew (a hot group key overwhelming
  * one reducer) and known-skewed join keys where the small side can be
  * replicated deterministically. Plus the bucketed-layout writer that makes
  * repeated big-big joins shuffle-free.
  */
object Partitioning {

  /** Two-phase (salted) aggregation: `groupBy(keys :+ salt)` partial, then
    * `groupBy(keys)` final. Use when one key value dominates (e.g. counting
    * by `lang` when 90% of a corpus is English): the hot key's rows spread
    * over `saltBuckets` reducers in phase 1.
    *
    * `aggs` must be algebraic (sum/count/min/max — re-aggregatable).
    */
  def saltedAgg(
      df: DataFrame,
      keys: Seq[String],
      saltBuckets: Int)(
      partial: Seq[Column],
      fin: Seq[Column]): DataFrame = {
    // salt from a hash of the WHOLE row, not partition-id/monotonic-id or
    // rand: task retries must re-salt a row identically or a lost executor
    // can double/drop rows mid-aggregation on a real cluster. Hashing all
    // columns still spreads a hot key (its rows differ elsewhere).
    val salted = df.withColumn("__graft_salt",
      pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), lit(saltBuckets.toLong)))
    val phase1 = salted
      .groupBy((keys :+ "__graft_salt").map(col): _*)
      .agg(partial.head, partial.tail: _*)
    phase1.groupBy(keys.map(col): _*).agg(fin.head, fin.tail: _*)
  }

  /** Salted join for a known-skewed key: the big (skewed) side gets a random
    * salt in [0, n); the small side is replicated n× with every salt value.
    * Equality on (key, salt) then spreads the hot key across n reducers.
    * Prefer AQE skew handling first; use this when the skew is extreme and
    * known ahead of time. */
  def saltedJoin(
      big: DataFrame,
      small: DataFrame,
      bigKey: String,
      smallKey: String,
      saltBuckets: Int,
      joinType: String = "inner"): DataFrame = {
    // deterministic under retries (see saltedAgg); int-typed to match the
    // replicated small side's sequence()
    val saltedBig = big.withColumn("__graft_salt",
      pmod(xxhash64(big.columns.map(col).toIndexedSeq: _*), lit(saltBuckets.toLong)).cast("int"))
    val replicatedSmall = small.withColumn("__graft_salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    saltedBig.join(replicatedSmall,
        saltedBig(bigKey) === replicatedSmall(smallKey) &&
          saltedBig("__graft_salt") === replicatedSmall("__graft_salt"),
        joinType)
      .drop("__graft_salt")
  }

  /** Small-file compaction for append-heavy tables — the maintenance half
    * of the concurrent-ingest story: streamed/NDJSON/do_put appends land as
    * one parquet file per commit, and a long-lived table degrades into
    * thousands of KB-sized files whose per-file open/footer cost dominates
    * scans (and whose count explodes driver-side listing at 100 TB).
    * Rewrites the table into `ceil(bytes / targetBytesPerFile)` files
    * through the engine's atomic swap, so readers never observe a
    * half-compacted table and the operation is safe to re-run after a
    * crash. The read and the swap hold the table's write lock: an append
    * committing in between would otherwise be dropped with the old files.
    *
    * Returns (filesBefore, filesAfter). */
  def compactTable(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      targetBytesPerFile: Long = 128L * 1024 * 1024): (Int, Int) = {
    def tableFiles(t: String): Seq[java.io.File] = {
      val loc = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t))
        .location
      val d = new java.io.File(loc.getPath)
      Option(d.listFiles()).toSeq.flatten.filter(f => f.getName.endsWith(".parquet"))
    }
    graft.engine.Engine.tableWriteLock(table).synchronized {
      val before = tableFiles(table)
      val bytes = before.map(_.length()).sum
      val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytesPerFile).toInt)
      graft.engine.Engine.swap(spark, table, spark.table(table).repartition(nFiles))
      (before.size, tableFiles(table).size)
    }
  }

  /** Bucketed table layout: co-locates both sides of a recurring join so
    * Catalyst plans a zero-shuffle SortMergeJoin. The 100 TB pattern for
    * fact-fact joins (e.g. orders ⋈ lineitem on orderkey): pay one shuffle
    * at write time, never again. */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCols: Seq[String],
      numBuckets: Int): Unit =
    df.write
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .mode("overwrite")
      .saveAsTable(table)

  /** Global 1-based position by `sortCols` WITHOUT a single-task window
    * (r8): range-partitioned parallel sort, then RDD.zipWithIndex — one
    * light count job over all-but-last partitions for the offsets, then
    * per-partition local indexes. This is the 100 TB replacement for
    * `row_number() OVER (ORDER BY …)` with no PARTITION BY, whose
    * unpartitioned window is a one-task total-order pass by construction
    * (the q140 POSITIONAL JOIN scale note). The RDD hop is the documented
    * exception for genuine per-partition imperative logic. */
  def globalIndex(df: DataFrame, sortCols: Seq[Column],
      idxName: String = "pos"): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    require(!df.schema.fieldNames.exists(_.equalsIgnoreCase(idxName)),
      s"globalIndex: input already has a column named '$idxName'")
    val sorted = df.sort(sortCols: _*)
    val schema = StructType(sorted.schema.fields :+
      StructField(idxName, LongType, nullable = false))
    val rdd = sorted.rdd.zipWithIndex.map { case (row, i) =>
      Row.fromSeq(row.toSeq :+ (i + 1L))
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** DuckDB-semantics POSITIONAL JOIN at scale: row N of `left` (by
    * `leftSort`) pairs with row N of `right` (by `rightSort`), shorter
    * side NULL-padded — a full-outer equi-join on [[globalIndex]]
    * positions. Both sides index in parallel; the join shuffles by the
    * position key like any equi-join. The SQL surface (q140) stays the
    * deterministic single-task window form; THIS is the operator to
    * reach for at corpus scale. */
  def positionalJoin(left: DataFrame, leftSort: Seq[Column],
      right: DataFrame, rightSort: Seq[Column],
      idxName: String = "pos"): DataFrame = {
    val l = globalIndex(left, leftSort, idxName)
    val r = globalIndex(right, rightSort, idxName)
    l.join(r, Seq(idxName), "full_outer")
  }
}
