package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, HyperplaneSig}

/** Similarity search over an embedding column (`array<float>`), SURVEY
  * §2.11 north star.
  *
  * Three tiers:
  *  - [[bruteForceTopK]]: exact cosine top-k. One broadcast of the query
  *    vector, one scan, a TakeOrderedAndProject — the right baseline, and
  *    already distributed (scan parallelism = input splits).
  *  - [[annTopK]] / [[Dedup.embeddingPairs]]: random-hyperplane LSH buckets
  *    prune the scan to candidate buckets; recall is tunable via `planes` /
  *    `probes`.
  *  - [[buildAnnIndex]] + [[annTopKIndexed]]: the 100 TB path. Signatures
  *    are computed ONCE at ingest and persisted as a bucketed-by-signature
  *    table; each query derives its probe buckets driver-side (no Spark job
  *    over the corpus) and pushes them down as an IN filter, so the scan
  *    touches only candidate buckets.
  *
  * Hyperplanes are pseudo-random but fully deterministic (SplitMix64 of
  * (plane, dim), [[HyperplaneSig.component]]), so signatures are
  * reproducible across runs and clusters with no model to ship.
  */
object Similarity {

  /** `planes`-bit signature of a float vector: bit j = sign(v · r_j).
    * Backed by the codegen'd [[HyperplaneSig]] expression — one pass over
    * the vector for all planes. */
  def hyperplaneSignature(vec: Column, planes: Int): Column =
    GraftFunctions.hyperplane_sig(vec, planes)

  /** Exact cosine top-k against one query vector (broadcast). */
  def bruteForceTopK(
      emb: DataFrame,
      queryVec: DataFrame, // single row, one array<float> column named "qv"
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    emb.crossJoin(broadcast(queryVec))
      .select(col(idCol), GraftFunctions.cosine_sim(col(vecCol), col("qv")).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** ANN top-k: restrict the scan to the query's LSH bucket (plus
    * `probes` single-bit-flip neighbor buckets), exact cosine within. */
  def annTopK(
      emb: DataFrame,
      queryVec: DataFrame,
      k: Int,
      planes: Int = 8,
      probes: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = queryVec.select(col("qv"), hyperplaneSignature(col("qv"), planes).as("qsig"))
    val flips = (0 until math.min(probes, planes)).map(j =>
      col("qsig").bitwiseXOR(lit(1L << j)))
    val probeSigs = q.select(col("qv"),
      explode(array(col("qsig") +: flips: _*)).as("sig"))
    val bucketed = emb.select(col(idCol), col(vecCol),
      hyperplaneSignature(col(vecCol), planes).as("sig"))
    bucketed.join(broadcast(probeSigs), "sig")
      .select(col(idCol), GraftFunctions.cosine_sim(col(vecCol), col("qv")).as("cosine"))
      .dropDuplicates(idCol)
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Plane count that keeps expected bucket population near
    * `targetBucketSize` for a corpus of `corpusSize` vectors — the knob that
    * keeps the bucket self-join linear as data grows (2^planes buckets;
    * within-bucket pair work is quadratic in bucket size). Demo entries pin
    * small plane counts for recall on tiny fixtures; at 100 TB call this. */
  def planesFor(corpusSize: Long, targetBucketSize: Int = 256): Int = {
    require(corpusSize > 0 && targetBucketSize > 0)
    val p = math.ceil(math.log(corpusSize.toDouble / targetBucketSize) / math.log(2)).toInt
    math.min(64, math.max(1, p))
  }

  // ---- persisted-index tier (the 100 TB path) ---------------------------

  /** One-time index build: materialize the signature column and bucket the
    * table BY signature. Pay one signature pass + one shuffle at ingest;
    * every later query prunes to its probe buckets. */
  def buildAnnIndex(
      emb: DataFrame,
      indexTable: String,
      planes: Int = 8,
      numBuckets: Int = 16,
      vecCol: String = "embedding"): Unit = {
    val spark = emb.sparkSession
    dropStaleWarehouseDir(spark, indexTable)
    Partitioning.writeBucketed(
      emb.withColumn("sig", hyperplaneSignature(col(vecCol), planes)),
      indexTable, Seq("sig"), numBuckets)
  }

  /** ANN top-k against a persisted index. The query's signature and its
    * `probes` single-bit-flip neighbors are computed on the DRIVER
    * ([[HyperplaneSig.signatureOf]]) — no per-query signature job over the
    * corpus — and pushed down as `sig IN (...)`, which Spark's bucket
    * pruning turns into a candidate-buckets-only scan. */
  def annTopKIndexed(
      spark: SparkSession,
      indexTable: String,
      queryVec: Array[Float],
      k: Int,
      planes: Int = 8,
      probes: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val qsig = HyperplaneSig.signatureOf(queryVec, planes)
    val sigs = (qsig +: (0 until math.min(probes, planes)).map(j => qsig ^ (1L << j))).distinct
    // DisableUnnecessaryBucketedScan would demote the scan (no join wants
    // the distribution) and forfeit bucket PRUNING — the entire point of
    // the bucketed index. The conf must differ from the session default,
    // but flipping it on the shared session is a race: another thread
    // planning during the set→restore window silently loses its
    // auto-bucketed-scan demotion. Index scans therefore plan on a cached
    // per-base-session CLONE (shared catalog and executor pools, its own
    // SQLConf) that pins the conf off permanently.
    val s2 = indexScanSession(spark)
    s2.table(indexTable)
      .filter(col("sig").isin(sigs: _*))
      .select(col(idCol),
        GraftFunctions.cosine_sim(col(vecCol), typedLit(queryVec.toSeq)).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  // ---- IVF-flat tier (the other 100 TB index family) --------------------
  //
  // LSH buckets by random hyperplanes; IVF buckets by nearest CENTROID —
  // better recall/probe on clustered corpora because buckets follow the
  // data's own density. Centroids are trained (r9): deterministic
  // spherical k-means on a bounded hash-sample — [[trainCentroids]].

  /** Auto-sizing for the IVF centroid count (r9 — the [[planesFor]]
    * precedent for the IVF family): per-query work is
    * ≈ nprobe·n/nCentroids (bucket scan) + nCentroids (driver centroid
    * scoring), balanced at √n; clamped so the driver-side centroid table
    * stays trivially collectable (4096 × dim floats ≲ 2 MB). */
  def centroidsFor(corpusSize: Long): Int = {
    require(corpusSize > 0)
    math.min(4096, math.max(4, math.ceil(math.sqrt(corpusSize.toDouble)).toInt))
  }

  /** Deterministic spherical k-means over a driver-side hash-sample (r9;
    * previously the centroids were the raw hash-sample — quantization
    * follows the data's density only by accident). FAISS-style: train on
    * a bounded sample, not the corpus. Every source of nondeterminism is
    * pinned — the sample is the `sampleN` smallest (xxhash64(id), id)
    * rows, init is the first `k` sample vectors in that order, Lloyd
    * iterations are fixed-count sequential driver loops — so a rebuild
    * reproduces the exact same centroids (spec-asserted). Vectors are
    * unit-normalized: cosine assignment = dot, centroid = normalized
    * mean; an emptied cluster keeps its previous centroid. */
  private def trainCentroids(
      emb: DataFrame,
      k: Int,
      idCol: String,
      vecCol: String,
      iters: Int = 8): Array[Array[Float]] = {
    def normalize(v: Array[Float]): Array[Double] = {
      val d = v.map(_.toDouble)
      val n = math.sqrt(d.map(x => x * x).sum)
      if (n == 0.0) d else d.map(_ / n)
    }
    val sampleN = math.min(math.max(k * 32, 1024), 65536)
    val sample = emb.select(col(idCol), col(vecCol))
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(sampleN).collect()
      .map(r => normalize(r.getSeq[Float](1).toArray))
    require(sample.nonEmpty, "cannot train centroids on an empty corpus")
    val dim = sample.map(_.length).max
    var cents: Array[Array[Double]] =
      sample.take(k).map(v => java.util.Arrays.copyOf(v, dim))
    val kEff = cents.length
    for (_ <- 0 until iters) {
      val sums = Array.fill(kEff)(new Array[Double](dim))
      val counts = new Array[Long](kEff)
      sample.foreach { v =>
        var best = 0; var bestDot = Double.NegativeInfinity
        var c = 0
        while (c < kEff) {
          var dot = 0.0; var i = 0
          val lim = math.min(v.length, dim)
          while (i < lim) { dot += v(i) * cents(c)(i); i += 1 }
          if (dot > bestDot) { bestDot = dot; best = c }
          c += 1
        }
        var i = 0
        while (i < math.min(v.length, dim)) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = cents.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0L) old
        else {
          val m = sums(c)
          val n = math.sqrt(m.map(x => x * x).sum)
          if (n == 0.0) old else m.map(_ / n)
        }
      }
    }
    cents.map(_.map(_.toFloat))
  }

  /** One-time IVF index build: train centroids ([[trainCentroids]]),
    * assign every vector to its nearest centroid (argmax cosine — one
    * codegen pass, nCentroids similarities per row), persist
    * bucketed-by-centroid plus a tiny `<table>_centroids` side table the
    * query path scores driver-side. */
  def buildIvfIndex(
      emb: DataFrame,
      indexTable: String,
      nCentroids: Int = 0,
      numBuckets: Int = 16,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      trainIters: Int = 8): Unit = {
    val spark = emb.sparkSession
    // nCentroids = 0 → auto-size from the corpus row count ([[centroidsFor]]);
    // metadata stats when available, a one-time count job at ingest otherwise
    val k =
      if (nCentroids > 0) nCentroids
      else centroidsFor(math.max(1L,
        emb.queryExecution.analyzed.stats.rowCount.map(_.toLong)
          .getOrElse(emb.count())))
    // trainIters = 0 keeps the raw (normalized) hash-sample init — the
    // pre-r9 behavior, exposed for the recall-margin comparison spec
    val cents: Array[(Int, Array[Float])] =
      trainCentroids(emb, k, idCol, vecCol, trainIters).zipWithIndex.map(_.swap)
    // gen 0 stamps (r14): the centroid set and the cid assignments must
    // stay a CONSISTENT pair across maintenance rebuilds — see
    // maintainIvfIndex's crash-ordering contract
    val assigned = assignToCentroids(emb, cents.map(_._2), vecCol)
      .withColumn("gen", lit(0))
    dropStaleWarehouseDir(spark, indexTable)
    dropStaleWarehouseDir(spark, indexTable + "_centroids")
    Partitioning.writeBucketed(assigned, indexTable, Seq("cid"), numBuckets)
    import spark.implicits._
    cents.toSeq.map { case (i, v) => (i, v.toSeq, 0) }
      .toDF("cid", "centroid", "gen")
      .write.format("parquet").mode("overwrite")
      .saveAsTable(indexTable + "_centroids")
  }

  /** Occupancy-triggered re-cluster of a persisted IVF index (r14,
    * VERDICT r13 #7 — the third member of the maintenance family
    * p65/p66 opened): the centroid count is sized at build time
    * ([[centroidsFor]] = √n), so a corpus growing past the build size
    * packs buckets and per-probe work degrades linearly toward the scan
    * the index exists to avoid. Measures per-centroid occupancy with ONE
    * aggregation over the index table; past the trigger (p95 >
    * occupancyFactor × targetBucket AND the sizing rule asks for more
    * centroids), re-trains spherical k-means FROM THE INDEX'S OWN STORED
    * VECTORS (the bounded hash-sample — zero corpus scans, the p62
    * invariant) and re-assigns the stored vectors.
    *
    * Crash-ordering contract (the p65 ADVICE fix, IVF edition): the
    * centroid set and the cid assignments must describe the same
    * clustering, so each rebuild (1) APPENDS the new centroids under a
    * generation strictly greater than ANY existing centroid generation
    * (orphan-aware, ADVICE r15: a crash between centroid append and
    * assignment commit leaves orphan rows one gen up; a retry must not
    * reuse that number) — old rows stay, (2) overwrites the index with
    * the same new-gen-stamped
    * assignments (saveAsTable commit = the atomic switch). The centroid
    * table is APPEND-ONLY after the one-time legacy gen-column
    * migration (r15, ADVICE r14 #4: the previous step-(3) prune
    * overwrote the table in place — a crash mid-prune could drop every
    * generation, live one included). Old generations are never removed:
    * the query path and the occupancy reader both select centroids at
    * the INDEX's generation, and accumulation is bounded by geometry —
    * a rebuild fires only when the √n sizing rule asks for MORE
    * centroids after ≥occupancyFactor× bucket packing, so past
    * generations form a decaying geometric tail of the live k (≤ ~1×
    * live size at 4× growth per rebuild, √n rows each). A crash at any
    * point leaves some complete (gen, centroids, assignments) triple
    * readable — with no window excepted. */
  def maintainIvfIndex(
      spark: SparkSession,
      indexTable: String,
      targetBucket: Int = 64,
      occupancyFactor: Double = 4.0,
      numBuckets: Int = 16,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      trainIters: Int = 8): Dedup.IndexHealth = {
    import spark.implicits._
    val idx = spark.table(indexTable)
    // headOption: a zero-row index (empty build input) reads as gen 0
    // instead of throwing (r15, ADVICE r14 #4)
    val genCur: Int =
      if (idx.columns.contains("gen"))
        idx.select(col("gen")).head(1).headOption.map(_.getInt(0)).getOrElse(0)
      else 0
    val kCur = {
      val c = spark.table(indexTable + "_centroids")
      (if (c.columns.contains("gen")) c.filter(col("gen") === genCur) else c)
        .count().toInt
    }
    // total row count rides the SAME aggregation as the occupancy stats
    // (r16, guide §1.2): every index row has a cid, so sum(bucket sizes)
    // = count(*) — the separate idx.count() was a second full-scan job
    val occ = idx.groupBy(col("cid")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("buckets"),
        expr("percentile_approx(n, 0.95, 10000)").as("p95"),
        max(col("n")).as("mx"),
        sum(col("n")).as("total"))
      .head()
    val (buckets, p95, mx) =
      (occ.getLong(0), occ.getAs[Number](1).doubleValue(), occ.getLong(2))
    val n = if (occ.isNullAt(3)) 0L else occ.getLong(3)
    val kNew = centroidsFor(math.max(1L, n))
    val trigger = p95 > occupancyFactor * targetBucket && kNew > kCur
    if (trigger) {
      // stored vectors only; localCheckpoint cuts lineage before the
      // overwrite of the table we read
      val stored = idx.select(col(idCol), col(vecCol)).localCheckpoint()
      val cents = trainCentroids(stored, kNew, idCol, vecCol, trainIters)
      val centTable = indexTable + "_centroids"
      // pre-r14 centroid tables lack gen — rewrite in place once (tiny)
      if (!spark.table(centTable).columns.contains("gen"))
        spark.table(centTable).withColumn("gen", lit(genCur))
          .localCheckpoint()
          .write.format("parquet").mode("overwrite").saveAsTable(centTable)
      // ADVICE r15: a crash AFTER the gen+1 centroid append but BEFORE
      // the assignment commit leaves orphan gen+1 centroid rows; a
      // retry that derived genNew from the index gen alone would append
      // a SECOND gen+1 batch — duplicate cids with divergent vectors at
      // the generation about to go live. Derive genNew past any orphan
      // generations instead: the orphans stay dead (no index gen ever
      // points at them) and the retry commits a clean new generation.
      val maxCentGen = spark.table(centTable)
        .agg(coalesce(max(col("gen")), lit(genCur))).head().getInt(0)
      val genNew = math.max(genCur, maxCentGen) + 1
      // (1) append the new generation's centroids
      cents.zipWithIndex.map { case (v, i) => (i, v.toSeq, genNew) }.toSeq
        .toDF("cid", "centroid", "gen")
        .write.format("parquet").mode("append").saveAsTable(centTable)
      // (2) switch the assignments — the atomic commit point. No prune
      // step: the centroid table stays append-only (see the contract
      // above), old generations are dead weight the readers filter out.
      Partitioning.writeBucketed(
        assignToCentroids(stored, cents, vecCol).withColumn("gen", lit(genNew)),
        indexTable, Seq("cid"), numBuckets)
    }
    Dedup.IndexHealth(n, buckets, p95, mx, kCur, kNew, trigger)
  }

  /** Single-kernel assignment (r10, VERDICT r9 #6): the centroid matrix
    * rides a 1-row broadcast relation as one flat row-major array — the
    * plan carries an attribute reference (O(1) plan size, k-independent)
    * and the argmax runs in one codegen pass
    * ([[graft.functions.CentroidArgmax]]). The previous k-column
    * `cosine_sim(vec, typedLit(centroid))` projection serialized ~1M
    * literal floats per task at the 4,096 clamp and fell out of
    * whole-stage codegen past ~100 fields. Exposed (package-private) for
    * the PlanAudit plan-size probe and the parity spec. */
  private[graft] def assignToCentroids(
      emb: DataFrame,
      cents: Array[Array[Float]],
      vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    val dim = cents.headOption.map(_.length).getOrElse(0)
    val flat: Array[Float] = cents.flatten
    import spark.implicits._
    val centMatDf = Seq(Tuple1(flat.toSeq)).toDF("graft_cmat")
    emb.crossJoin(broadcast(centMatDf))
      .withColumn("cid", GraftFunctions.centroid_argmax(
        col(vecCol), col("graft_cmat"), dim))
      .drop("graft_cmat")
  }

  /** IVF top-k: score the centroid table DRIVER-side (nCentroids rows — no
    * job over the corpus), probe the `nprobe` nearest centroid buckets via
    * `cid IN (...)` (bucket-pruned scan), exact cosine within. */
  def ivfTopKIndexed(
      spark: SparkSession,
      indexTable: String,
      queryVec: Array[Float],
      k: Int,
      nprobe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    ivfTopKIndexedMany(spark, indexTable, Seq((0L, queryVec)), k, nprobe,
      idCol, vecCol).drop("query_id")

  /** Batched [[ivfTopKIndexed]] (r16, guide §1.2/§2.6): one DataFrame of
    * per-query top-k results, tagged `query_id`. The centroid table is
    * collected and the index generation read ONCE for the whole batch
    * (the single-query path paid one centroid-collect job and one
    * gen-read job PER query), and the per-query bucket-pruned scans are
    * branches of ONE union plan — a multi-probe audit runs as one Spark
    * job instead of 3×|queries| sequential ones. Per-branch ORDER BY +
    * LIMIT is preserved (each union branch plans its own
    * TakeOrderedAndProject), so the row set per query_id is identical to
    * the single-query form. */
  def ivfTopKIndexedMany(
      spark: SparkSession,
      indexTable: String,
      queries: Seq[(Long, Array[Float])],
      k: Int,
      nprobe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(queries.nonEmpty, "ivfTopKIndexedMany needs at least one query")
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
        i += 1
      }
      val den = math.sqrt(na) * math.sqrt(nb)
      if (den == 0.0) -2.0 else dot / den
    }
    // generation-consistent centroid view (r14): score only the rows of
    // the generation the INDEX carries — a crash mid-maintenance can
    // leave extra centroid generations behind, never a mixed pair
    val centRows0 = spark.table(indexTable + "_centroids").collect()
    val centHasGen = spark.table(indexTable + "_centroids")
      .columns.contains("gen")
    val centRows = if (centHasGen) {
      val idxDf = spark.table(indexTable)
      val idxGen = if (idxDf.columns.contains("gen"))
        idxDf.select(col("gen")).head(1).headOption.map(_.getInt(0))
      else None
      val g = idxGen.getOrElse(
        // pre-r14 (or zero-row) index: oldest centroid gen
        centRows0.map(_.getAs[Int]("gen")).min)
      centRows0.filter(_.getAs[Int]("gen") == g)
    } else centRows0
    val cents = centRows.map(r => (r.getAs[Int]("cid"),
      r.getAs[scala.collection.Seq[Float]]("centroid").toArray))
    val s2 = indexScanSession(spark)
    queries.map { case (qid, queryVec) =>
      val probes = cents
        .map { case (cid, c) => (cid, cos(queryVec, c)) }
        .sortBy { case (cid, c) => (-c, cid) }
        .take(nprobe).map(_._1)
      s2.table(indexTable)
        .filter(col("cid").isin(probes.map(Integer.valueOf).toIndexedSeq: _*))
        .select(col(idCol),
          GraftFunctions.cosine_sim(col(vecCol), typedLit(queryVec.toSeq)).as("cosine"))
        .orderBy(col("cosine").desc, col(idCol))
        .limit(k)
        .select(lit(qid).as("query_id"), col(idCol), col("cosine"))
    } match { case branches => balancedUnion(branches) }
  }

  /** Balanced (pairwise) union instead of a left-deep reduce (r17,
    * ADVICE r16): analyzer/optimizer cost on a left-deep union chain
    * grows with plan DEPTH, so a large query batch would pay O(n) deep
    * recursion per rule; the balanced tree is O(log n) deep for the same
    * n-1 Union nodes. The 5-probe audits don't care; callers batching
    * hundreds of queries do. Plan-size itself still grows linearly with
    * the batch — callers beyond ~1k queries per call should chunk. */
  private def balancedUnion(dfs: Seq[DataFrame]): DataFrame =
    if (dfs.lengthCompare(1) == 0) dfs.head
    else balancedUnion(dfs.grouped(2)
      .map(g => if (g.lengthCompare(2) == 0) g(0).unionByName(g(1)) else g(0))
      .toSeq)

  /** A previous JVM may have left the warehouse dir without a catalog entry
    * (fresh session, persistent cwd) — saveAsTable would then fail on
    * LOCATION_ALREADY_EXISTS. */
  private[operators] def dropStaleWarehouseDir(spark: SparkSession, table: String): Unit =
    if (!spark.catalog.tableExists(table)) {
      val wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        .stripPrefix("file:")
      val stale = new java.io.File(wh, table.toLowerCase)
      if (stale.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(stale)
      }
    }

  // one scan-tuned clone per base session; WeakHashMap so a retired base
  // session doesn't pin its clone
  private val scanSessions = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, SparkSession]())

  private def indexScanSession(spark: SparkSession): SparkSession =
    scanSessions.synchronized {
      val cached = scanSessions.get(spark)
      if (cached != null) cached
      else {
        val s = spark.newSession()
        s.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        scanSessions.put(spark, s)
        s
      }
    }

  /** Symmetric int8 quantization of an embedding column — the vector
    * compression step before large-scale ANN (4× smaller than float32;
    * integer dot kernels consume it directly). Per-vector scale =
    * 127 / max|x|; elements round half-away-from-zero in both engines.
    * Pure codegen transform, zero shuffles.
    * Returns (vec_id, scale_micro, q: array<int>). */
  def quantizeInt8(emb: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame =
    emb.select(col(idCol), col(vecCol).as("__v"))
      .withColumn("__mx",
        expr("array_max(transform(__v, x -> abs(CAST(x AS DOUBLE))))"))
      .select(col(idCol),
        expr("CAST(round(1000000.0 * 127 / __mx) AS BIGINT)").as("scale_micro"),
        expr("transform(__v, x -> CAST(round(CAST(x AS DOUBLE) * 127 / __mx) AS INT))").as("q"))

  /** [[quantizeInt8]] with the vector serialized to CSV in the same
    * element pass (for the declared oracle entry — the driver comparator
    * cannot hash array columns). One fused transform instead of
    * quantize-then-stringify: higher-order functions evaluate outside
    * whole-stage codegen, so a second per-element pass is real cost
    * (measured sf≈3 declared entry: fused 7.4 s vs chained 8.1 s
    * sort-last; 0.74 s once the entry sorts the scan BEFORE this
    * projection — see the p35 declaration note). */
  def quantizeInt8Csv(emb: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame =
    emb.select(col(idCol), col(vecCol).as("__v"))
      .withColumn("__mx",
        expr("array_max(transform(__v, x -> abs(CAST(x AS DOUBLE))))"))
      .select(col(idCol),
        expr("CAST(round(1000000.0 * 127 / __mx) AS BIGINT)").as("scale_micro"),
        expr("array_join(transform(__v, x -> CAST(CAST(round(CAST(x AS DOUBLE) * 127 / __mx) AS INT) AS STRING)), ',')").as("q"))
}
