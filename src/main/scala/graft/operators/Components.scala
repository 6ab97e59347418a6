package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components over a near-dup pair graph — the step that turns
  * pairwise dedup output (p02/p03/p04/p05) into dedup CLUSTERS: every doc
  * gets the min doc-id of its transitive near-dup group, so "keep one per
  * cluster" is a filter, not another join. Near-dup relations are not
  * transitive (A≈B, B≈C does not imply A≈C), so clusters are genuinely the
  * transitive closure, not groupBy output.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond") — each round is two
  * groupBy+join passes over the edge list, converges in O(log² n) rounds on
  * any graph, and never materializes a component as one row: the 100 TB-safe
  * shape (label-propagation-until-fixpoint is O(diameter) rounds and a
  * chain kills it; a collect_set of members blows the row budget on a
  * million-doc dup cluster).
  *
  * Each iteration localCheckpoints the edge frame: iterative DataFrame
  * algorithms otherwise build exponentially deep lineage and re-execute
  * the whole history every round.
  */
object Components {

  /** (node, component-min-id) for every node in `nodes`; `pairs` rows are
    * undirected near-dup edges (d1, d2). Singletons map to themselves. */
  def connectedComponents(
      nodes: DataFrame, // single id column
      pairs: DataFrame, // (d1, d2)
      maxRounds: Int = 25): DataFrame = {
    val idCol = nodes.columns.head
    val spark = nodes.sparkSession
    import spark.implicits._

    // canonical undirected edge list u < v
    var edges = pairs.toDF("a", "b")
      .select(least($"a", $"b").as("u"), greatest($"a", $"b").as("v"))
      .filter($"u" =!= $"v").distinct().localCheckpoint()

    // Fixpoint test (r16, guide §1.2): the fixpoints of alternating
    // large-star/small-star are EXACTLY the star forests (Kiveris et
    // al.), and a canonical (u < v, distinct) edge set is a star forest
    // iff no node appears both as a root (u) and a member (v) AND no
    // member appears twice — (a) a doubly-rooted member (r1,m),(r2,m)
    // is rewired by the next small-star (u=m links r2 to min(r1,r2)),
    // (b) a root-that-is-member chain (r,m),(m,x) is rewired by the
    // next large-star, and conversely a star forest maps to itself
    // through both phases (roots re-link their members to themselves;
    // members have no larger neighbors). The previous loop detected the
    // fixpoint by comparing round output to round INPUT — which costs
    // one full no-op round plus an exceptAll pass just to confirm;
    // this detects it on the round that PRODUCES the forest (or on the
    // input itself, skipping the loop for already-star-shaped pair
    // sets) with ONE aggregation job. Node roles ride a single explode
    // — no join, no second shuffle.
    def isStarForest(e: DataFrame): Boolean =
      e.select(explode(array(
          struct($"u".as("n"), lit(1).as("r")),
          struct($"v".as("n"), lit(0).as("r")))).as("x"))
        .select($"x.n".as("n"), $"x.r".as("r"))
        .groupBy($"n")
        .agg(sum($"r").as("asRoot"), sum(lit(1) - $"r").as("asMember"))
        .filter($"asMember" > 1 || ($"asMember" >= 1 && $"asRoot" >= 1))
        .isEmpty

    var converged = isStarForest(edges)
    var round = 0
    while (!converged && round < maxRounds) {
      // large-star: for each u over BOTH orientations, link every strictly
      // larger neighbor to the neighborhood min (incl. u). The min is
      // computed by a groupBy and JOINED back per edge — a giant component
      // never materializes as one collected row.
      val both = edges.select($"u", $"v")
        .unionByName(edges.select($"v".as("u"), $"u".as("v")))
      val mins = both.groupBy($"u").agg(min($"v").as("mn"))
        .select($"u", least($"mn", $"u").as("m"))
      // NO distinct() on the large-star output (r16, guide §2.4): the
      // small-star mins are duplicate-insensitive and the round's final
      // distinct removes survivors, so the mid-round distinct bought
      // nothing but a full extra Exchange per round. Duplicate multiplicity
      // is bounded: each (v,m) pair can arise once per distinct u-neighbor
      // of v — the same bound the edge list itself obeys.
      val largeStar = both.join(mins, "u").filter($"v" > $"u")
        .select(least($"v", $"m").as("u"), greatest($"v", $"m").as("v"))
        .filter($"u" =!= $"v")
      // small-star: link every neighbor <= u (and u itself) to the min
      val smallBoth = largeStar.select($"u", $"v")
        .unionByName(largeStar.select($"v".as("u"), $"u".as("v")))
        .filter($"v" <= $"u")
      val mins2 = smallBoth.groupBy($"u").agg(min($"v").as("mn"))
        .select($"u", least($"mn", $"u").as("m"))
      val smallStar = smallBoth.join(mins2, "u")
        .select(least($"v", $"m").as("u"), greatest($"v", $"m").as("v"))
        .unionByName(mins2.select(least($"u", $"m").as("u"), greatest($"u", $"m").as("v")))
        .filter($"u" =!= $"v").distinct().localCheckpoint()
      edges = smallStar
      converged = isStarForest(edges)
      round += 1
    }
    require(converged, s"connectedComponents did not converge in $maxRounds rounds")

    // at fixpoint every edge is (component-min, member)
    val labels = edges.select($"v".as("n"), $"u".as("lbl"))
      .groupBy($"n").agg(min($"lbl").as("lbl"))
    nodes.select(col(idCol).as("n"))
      .join(labels, Seq("n"), "left")
      .select($"n".as(idCol), coalesce($"lbl", $"n").as("component"))
  }

  /** Dedup-cluster view over the documents table: components of the exact
    * n-gram Jaccard near-dup graph at a similarity threshold (deterministic
    * — oracle-checkable with a recursive-CTE closure), one row per doc with
    * its cluster id and whether it is the kept representative. Thresholding
    * makes the closure non-trivial: A≈B and B≈C above threshold do not put
    * A≈C above it, so clusters really are transitive chains. */
  def dedupClusters(spark: SparkSession, docs: DataFrame,
      minJacBp: Long = 5000): DataFrame = {
    import spark.implicits._
    val pairs = Dedup.ngramJaccardPairs(docs)
      .filter($"jac_bp" >= minJacBp).select($"d1", $"d2")
    connectedComponents(docs.select($"doc_id"), pairs)
      .select($"doc_id", $"component",
        ($"doc_id" === $"component").as("is_kept"))
  }

  /** Cluster-representative selection by QUALITY instead of min-id: one
    * row per near-dup cluster — the member with the highest stopword-ratio
    * score, ties broken by lowest doc_id. [[dedupClusters]]'s min-id keep
    * is arbitrary; real curation keeps the best-written copy of each
    * near-dup group. Cost beyond the component labels: one codegen score
    * scan plus one component-keyed window — no extra corpus shuffle (the
    * window key is the component id the labels already carry). */
  def dedupClustersBestQuality(spark: SparkSession, docs: DataFrame,
      minJacBp: Long = 5000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = dedupClusters(spark, docs, minJacBp)
      .select(col("doc_id"), col("component"))
    val scored = docs.select(col("doc_id"),
        TextAnalysis.tokenSetHits(col("text"),
          Seq(TextAnalysis.defaultStopwords)).as("__h"))
      .select(col("doc_id"),
        expr("CAST(round(10000.0 * element_at(__h, 2) / element_at(__h, 1)) AS BIGINT)")
          .as("score"))
    val w = Window.partitionBy("component")
      .orderBy(col("score").desc, col("doc_id"))
    labels.join(scored, "doc_id")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select("doc_id", "component", "score")
  }
}
