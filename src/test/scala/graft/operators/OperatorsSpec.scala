package graft.operators

import graft.{SparkEntry, SparkTestBase}
import graft.engine.Engine
import org.apache.spark.sql.functions._

class OperatorsSpec extends SparkTestBase {

  test("every registered query runs at sf0.001 and returns a schema") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      assert(df.schema.fields.nonEmpty, s"$name: empty schema")
      // r10 dev-gate lint (VERDICT r9 #1): the driver comparator
      // pandas-sorts rows and cannot hash numpy arrays, so no
      // oracle-listed entry may expose a top-level ARRAY/MAP column —
      // serialize through array_to_string (round-5 rule). Mechanical now,
      // not prose: q199 shipped red for exactly this.
      if (SparkEntry.oracleSql.contains(name)) {
        val offenders = df.schema.fields.collect {
          case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
            f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] => f.name
        }
        assert(offenders.isEmpty,
          s"$name: top-level array/map columns ${offenders.toSeq} would crash " +
            "the driver comparator — serialize via array_to_string")
      }
      df.limit(1).collect() // forces execution of the plan head
    }
  }

  test("every oracle key has a matching query") {
    val qs = SparkEntry.queries.keySet
    val missing = SparkEntry.oracleSql.keySet.diff(qs)
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("entry flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("minhash candidates cover known prefix near-dup pairs") {
    Engine.registerTables(spark, sfDir)
    val docs = spark.table("documents")
    val prefixPairs = docs.as("a").join(docs.as("b"),
        col("a.doc_id") < col("b.doc_id") &&
          substring(col("a.text"), 1, 40) === substring(col("b.text"), 1, 40))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minhashPairs(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(prefixPairs.subsetOf(mh),
      s"minhash missed ${prefixPairs.diff(mh).size} of ${prefixPairs.size} near-dup pairs")
  }

  test("simhash pairs respect the hamming bound and find near-dups") {
    Engine.registerTables(spark, sfDir)
    val pairs = Dedup.simhashPairs(spark.table("documents"), maxHamming = 3).collect()
    assert(pairs.forall(_.getInt(2) <= 3))
    assert(pairs.nonEmpty, "no simhash near-dup pairs found in fixture")
  }

  test("portable simhash banded pairs equal the brute-force hamming pair set") {
    // pigeonhole exactness: with maxHamming < bands, the banded equi-join
    // must produce EXACTLY the pairs within the hamming bound — this is
    // what makes the p04 oracle entry deterministic, so prove it on a
    // corpus with real near-dup structure
    Engine.registerTables(spark, sfDir)
    val docs = spark.table("documents")
    val banded = Dedup.simhashPairs(docs, maxHamming = 3, portable = true)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    val sigs = docs.select(col("doc_id"),
        expr("simhash_md5(filter(split(lower(text), ' '), t -> t != ''))").as("sh"))
    val brute = sigs.as("a").join(sigs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("h"))
      .filter(col("h") <= 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(banded == brute,
      s"banded +${banded.keySet.diff(brute.keySet).size} -${brute.keySet.diff(banded.keySet).size}")
    assert(brute.nonEmpty, "vacuous: no portable-simhash pairs in fixture")
  }

  test("exact-dup collapse path matches the legacy all-docs path for minhash and simhash") {
    import spark.implicits._
    // clustered fixture: exact-dup clusters of varying size + near-dup edits
    val rnd = new scala.util.Random(5)
    val bases = (0 until 30).map(i =>
      (0 until 60).map(_ => s"w${rnd.nextInt(400)}").mkString(" "))
    val docs = bases.zipWithIndex.flatMap { case (t, i) =>
      val copies = 1 + (i % 4) // clusters of 1..4 exact copies
      val edited = t.split(" ").updated(5, "EDIT").mkString(" ") // near-dup of cluster 0's text
      (0 until copies).map(c => (i * 100L + c, t)) ++
        (if (i % 7 == 0) Seq((i * 100L + 50, edited)) else Nil)
    }.toDF("doc_id", "text")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mhNew = pairSet(Dedup.minhashPairs(docs, threshold = 0.5))
    val mhOld = pairSet(Dedup.minhashPairs(docs, threshold = 0.5, collapseExact = false))
    assert(mhNew == mhOld,
      s"minhash collapse diverged: +${mhNew.diff(mhOld).size} -${mhOld.diff(mhNew).size}")
    val shNew = pairSet(Dedup.simhashPairs(docs, maxHamming = 3))
    val shOld = pairSet(Dedup.simhashPairs(docs, maxHamming = 3, collapseExact = false))
    assert(shNew == shOld,
      s"simhash collapse diverged: +${shNew.diff(shOld).size} -${shOld.diff(shNew).size}")
    // metric values must match too, not just the id pairs
    val mhJacNew = Dedup.minhashPairs(docs, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val mhJacOld = Dedup.minhashPairs(docs, threshold = 0.5, collapseExact = false)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    mhJacNew.foreach { case (k, v) =>
      assert(math.abs(v - mhJacOld(k)) < 1e-12, s"jaccard diverged on $k")
    }
  }

  test("embedding collapse path matches the legacy path, bit-exact cosines") {
    import spark.implicits._
    // clusters of exact-identical vectors + near-identical edits
    val rnd = new scala.util.Random(23)
    val bases = Array.fill(40)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val vecs = bases.zipWithIndex.flatMap { case (v, i) =>
      val copies = 1 + (i % 3)
      val near = v.map(x => x + 0.0005f)
      (0 until copies).map(c => (i * 100L + c, v)) ++
        (if (i % 5 == 0) Seq((i * 100L + 50, near)) else Nil)
    }.toSeq.toDF("vec_id", "embedding")
    def pairMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val nw = pairMap(Dedup.embeddingPairs(vecs, minCosine = 0.9, planesPerBand = 8, bands = 4))
    val old = pairMap(Dedup.embeddingPairs(vecs, minCosine = 0.9, planesPerBand = 8, bands = 4,
      collapseExact = false))
    assert(nw.keySet == old.keySet,
      s"embedding collapse diverged: +${nw.keySet.diff(old.keySet).size} -${old.keySet.diff(nw.keySet).size}")
    nw.foreach { case (k, v) =>
      assert(v == old(k), s"cosine diverged on $k: $v vs ${old(k)}") // bit-exact
    }
  }

  test("connectedComponents matches driver-side union-find on random graphs, chains, singletons") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    // random sparse graph + a 40-node chain (diameter stress) + singletons
    val n = 120
    val randomEdges = (0 until 80).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    val chain = (200L until 240L).sliding(2).map(s => (s(0), s(1))).toSeq
    val edges = randomEdges ++ chain
    val nodeIds = (0L until n.toLong) ++ (200L until 240L) ++ Seq(500L, 501L)
    // driver-side union-find ground truth
    val parent = scala.collection.mutable.Map(nodeIds.map(i => i -> i): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) if a != b =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      case _ => ()
    }
    val expected = nodeIds.map { i =>
      // component label = min member id
      val root = find(i)
      i -> nodeIds.filter(j => find(j) == root).min
    }.toMap
    val got = Components.connectedComponents(
        nodeIds.toDF("id"), edges.toDF("d1", "d2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected,
      s"components diverged on ${expected.count { case (k, v) => got(k) != v }} of ${expected.size} nodes")
    assert(got(500L) == 500L && got(501L) == 501L, "singletons must self-label")
    assert(got(239L) == 200L, "chain end must reach the chain min")
  }

  // ---- self-verification for the no-oracle rows (round-2 verdict #2):
  // ground truth comes from exact, oracle-grade computations on the same
  // fixture; the hash-seeded operators must reproduce it.

  test("simhash banding is lossless vs brute-force hamming; near-dup recall holds") {
    Engine.registerTables(spark, sfDir)
    val docs = spark.table("documents")
    val toks = filter(split(lower(col("text")), " "), t => t =!= "")
    val base = docs.select(col("doc_id"),
        array_distinct(graft.functions.GraftFunctions.token_window_hashes(toks, 3)).as("sh"),
        graft.functions.GraftFunctions.simhash64(toks).as("sim"))
      .withColumn("n", size(col("sh")))
    val a = base.select(col("doc_id").as("d1"), col("sh").as("sh1"), col("n").as("n1"), col("sim").as("s1"))
    val b = base.select(col("doc_id").as("d2"), col("sh").as("sh2"), col("n").as("n2"), col("sim").as("s2"))
    val inter = size(array_intersect(col("sh1"), col("sh2"))).cast("double")
    val pairs = a.crossJoin(b).filter(col("d1") < col("d2"))
      .withColumn("jac", inter / (col("n1") + col("n2") - inter))
      .withColumn("ham", bit_count(col("s1").bitwiseXOR(col("s2"))))
      .select("d1", "d2", "jac", "ham").collect()
    // structural proof: the banded equi-join candidate generation loses
    // NOTHING against the operator's own contract — its output equals the
    // brute-force all-pairs hamming <= 3 set exactly (pigeonhole: <= 3 flips
    // cannot touch all 4 bands)
    val exactHam = pairs.filter(_.getInt(3) <= 3).map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = Dedup.simhashPairs(docs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactHam.nonEmpty, "fixture has no hamming<=3 pairs to verify against")
    assert(sh == exactHam, s"banding lost ${exactHam.diff(sh).size}, invented ${sh.diff(exactHam).size}")
    // semantic floor: most duplicate-grade pairs (exact 3-gram jaccard
    // >= 0.97) land within hamming 3 — simhash's probabilistic contract
    // (not 1.0: a 0.976-jaccard pair can legitimately hash to hamming 7)
    val dupGrade = pairs.filter(_.getDouble(2) >= 0.97).map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dupGrade.nonEmpty, "fixture has no duplicate-grade pairs")
    val recall = dupGrade.intersect(sh).size.toDouble / dupGrade.size
    assert(recall >= 0.8, s"simhash recall $recall below 0.8 on jaccard>=0.97 pairs")
  }

  test("banded embedding LSH: recall >= 0.95 and precision 1.0 on duplicate-grade vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val bases = Array.fill(100)(Array.fill(16)(rnd.nextGaussian().toFloat))
    // 100 groups of 3 noisy copies — the exact near-dup pair set is known
    val vecs = (0 until 300).map { i =>
      val c = bases(i % 100)
      (i.toLong, c.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val e1 = emb.select(col("vec_id").as("d1"), col("embedding").as("v1"))
    val e2 = emb.select(col("vec_id").as("d2"), col("embedding").as("v2"))
    val exact = e1.crossJoin(e2).filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        graft.functions.GraftFunctions.cosine_sim(col("v1"), col("v2")).as("c"))
      .filter(col("c") >= 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 100, s"expected >= 100 true near-dup pairs, got ${exact.size}")
    val got = Dedup.embeddingPairs(emb, minCosine = 0.99, planesPerBand = 12, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(got).size.toDouble / exact.size
    assert(recall >= 0.95, s"banded LSH recall $recall below 0.95")
    // precision is 1.0 by construction: candidates are exact-verified
    assert(got.subsetOf(exact), s"false positives: ${got.diff(exact)}")
  }

  test("prefix-dedup skew guard: oversized buckets route through minhash banding") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val pfx = "shared boilerplate license header text ok " // > 40 chars
    def randWords(n: Int) = Seq.fill(n)("w" + rnd.nextInt(100000)).mkString(" ")
    // 1200 docs share one 40-char prefix with random bodies (the skew
    // bucket), + 5 true near-dup pairs inside it, + 60 docs in small
    // distinct-prefix buckets (the exact path)
    val skew = (0 until 1200).map(i => (i.toLong, pfx + randWords(30)))
    val dups = (0 until 5).flatMap { g =>
      val body = randWords(30)
      Seq((2000L + 2 * g, pfx + body), (2001L + 2 * g, pfx + body + " tail" + g))
    }
    val small = (0 until 60).map(i => (3000L + i, s"unique prefix number $i padded to forty chars " + randWords(20)))
    val docs = (skew ++ dups ++ small).toDF("doc_id", "text")

    val guarded = Dedup.ngramJaccardPairs(docs, bucketCap = 100)
    val got = guarded.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // bounded: the unguarded equi-join would enumerate ~730k pairs inside
    // the skew bucket; the guard reports only verified near-dups there
    assert(got.size < 1000, s"skew bucket exploded: ${got.size} pairs")
    // every planted near-dup pair survives the overflow route
    val planted = (0 until 5).map(g => (2000L + 2 * g, 2001L + 2 * g)).toSet
    assert(planted.subsetOf(got), s"guard lost planted dups: ${planted.diff(got)}")
    // small buckets keep exhaustive all-pairs semantics (any jaccard)
    val smallIds = small.map(_._1).toSet
    val smallPairs = got.filter(p => smallIds.contains(p._1))
    assert(smallPairs.isEmpty || smallPairs.forall(p => smallIds.contains(p._2)))
    // and the guarded operator equals the unguarded one when no bucket
    // exceeds the cap (the q57/p02 oracle fixture regime)
    val smallDocs = (dups ++ small).toDF("doc_id", "text")
    val unguarded = Dedup.ngramJaccardPairs(smallDocs, bucketCap = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val capped = Dedup.ngramJaccardPairs(smallDocs, bucketCap = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(capped == unguarded)
  }

  test("p08 brute-force cosine ids match p07's oracle-checked ids") {
    val p7 = SparkEntry.queries("p07_sim_cos_micro_topk")(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    val p8 = SparkEntry.queries("p08_sim_cosine_brute")(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    assert(p8 == p7, s"p8-only=${p8.diff(p7)} p7-only=${p7.diff(p8)}")
  }

  test("line dedup keeps first corpus-wide occurrence, reassembles in order, drops emptied docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha\nbeta\ngamma"),
      (2L, "beta\ndelta"),        // beta already seen in doc 1
      (3L, "alpha\ngamma"),       // both seen -> doc vanishes
      (4L, "epsilon\nepsilon")    // self-dup within one doc: keep first only
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.toSeq == Seq(
      (1L, 3L, "alpha\nbeta\ngamma"),
      (2L, 1L, "delta"),
      (4L, 1L, "epsilon")))
  }

  test("span dedup cuts duplicated k-token windows, keep-first, restores emptied docs") {
    import spark.implicits._
    // k=3: doc 1 owns every span; doc 2 repeats doc 1's "b c d" span
    // mid-text; doc 3 is entirely doc 1's opening; doc 4 repeats its own
    // opening span in-doc; doc 5 shares nothing.
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "x b c d y"),   // window (b c d) dup -> positions 1..3 cut
      (3L, "a b c"),       // whole doc = dup window -> emptied
      (4L, "p q r p q r"), // in-doc dup of (p q r) -> second copy cut
      (5L, "u v w")
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, k = 3).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 5L, 5L, "a b c d e"),
      (2L, 5L, 2L, "x y"),
      (3L, 3L, 0L, ""),
      (4L, 6L, 3L, "p q r"),
      (5L, 3L, 3L, "u v w")))
  }

  test("boilerplate spans cut every occurrence above the per-group doc threshold") {
    import spark.implicits._
    // k=3, minDocs=2: "end of page" appears in 2 distinct docs of srcA
    // (both copies cut — including the first, unlike spanDedup); the same
    // span in srcB appears in only 1 doc there and survives; a doc that is
    // ONLY boilerplate empties; in-doc repeats count as one distinct doc.
    val docs = Seq(
      (1L, "srcA", "alpha beta end of page"),
      (2L, "srcA", "gamma end of page delta"),
      (3L, "srcA", "end of page end of page"), // one distinct doc only, but
                                               // windows shared with 1,2 -> cut
      (4L, "srcB", "end of page unique tail"),
      (5L, "srcB", "nothing shared here")
    ).toDF("doc_id", "source", "text")
    val out = Dedup.boilerplateSpans(docs, k = 3, minDocs = 2).orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(out.toSeq == Seq(
      (1L, "srcA", 5L, 2L, "alpha beta"),
      (2L, "srcA", 5L, 2L, "gamma delta"),
      (3L, "srcA", 6L, 0L, ""),
      (4L, "srcB", 5L, 5L, "end of page unique tail"),
      (5L, "srcB", 3L, 3L, "nothing shared here")))
  }

  test("frame dedup keeps the first copy of each aligned frame") {
    import spark.implicits._
    // frameBytes=4: item 1 owns frames "aaaa","bbbb"; item 2 repeats
    // "aaaa" at frame 0 (cut) and owns "cccc"; item 3 is entirely item
    // 1's first frame -> empties; a short tail frame is its own content.
    val items = Seq(
      (1L, "aaaabbbbcc"),   // frames: aaaa, bbbb, cc
      (2L, "aaaacccc"),     // aaaa dup -> cut; cccc kept
      (3L, "aaaa")          // all dup -> empty
    ).toDF("id", "payload")
    val out = Multimodal.frameDedup(items, frameBytes = 4).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 3L, 3L, "aaaabbbbcc"),
      (2L, 2L, 1L, "cccc"),
      (3L, 1L, 0L, "")))
  }

  test("cross-corpus overlap counts distinct shared windows per group pair") {
    import spark.implicits._
    // k=2: srcA and srcB share windows "a b" and "b c"; srcC shares
    // nothing; in-doc repeats of a window count once (distinct).
    val docs = Seq(
      (1L, "srcA", "a b c"),
      (2L, "srcA", "a b a b"),   // repeats "a b" -> still one distinct
      (3L, "srcB", "a b c x"),
      (4L, "srcC", "q r s")
    ).toDF("doc_id", "source", "text")
    val out = Decontamination.crossCorpusOverlap(docs, k = 2).orderBy("s1", "s2")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // srcA windows: {a b, b c, b a}; srcB: {a b, b c, c x} -> shared 2
    assert(out.toSeq == Seq(("srcA", "srcB", 2L)))
  }

  test("length-tail trim drops the rank-exact fraction per group") {
    import spark.implicits._
    // srcA: 10 docs with 1..10 tokens -> floor(10*0.1)=1 cut each end;
    // srcB: 3 docs -> floor(0.3)=0 cut, all survive.
    val docs = (1 to 10).map(i => (i.toLong, "srcA", (1 to i).map(_ => "w").mkString(" "))) ++
      Seq((21L, "srcB", "a"), (22L, "srcB", "a b"), (23L, "srcB", "a b c"))
    val out = TextAnalysis.trimLengthTails(docs.toDF("doc_id", "source", "text"), frac = 0.1)
      .orderBy("doc_id").collect().map(_.getLong(0))
    assert(out.toSeq == (2L to 9L) ++ Seq(21L, 22L, 23L))
  }

  test("source novelty attributes windows to the first group in order") {
    import spark.implicits._
    // k=2. srcA owns {a b, b c} (3 occurrences: doc 1 has both, doc 2
    // repeats "a b"); srcB has {a b (dup of srcA's), x y (novel)}.
    val docs = Seq(
      (1L, "srcA", "a b c"),
      (2L, "srcA", "a b"),
      (3L, "srcB", "a b"),
      (4L, "srcB", "x y")
    ).toDF("doc_id", "source", "text")
    val out = Dedup.sourceNovelty(docs, k = 2).orderBy("source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      ("srcA", 3L, 2L, 2L),
      ("srcB", 2L, 2L, 1L)))
  }

  test("span scrub cuts eval-set windows from train docs, keeps the rest") {
    import spark.implicits._
    val ev = Seq((1L, "secret bench item alpha")).toDF("doc_id", "text")
    val train = Seq(
      (10L, "intro words secret bench item tail words"), // k=3 windows of the eval doc appear
      (11L, "clean document nothing shared here"),
      (12L, "secret bench item alpha")                   // the whole doc is leaked
    ).toDF("doc_id", "text")
    val out = Decontamination.scrubEvalSpans(train, ev, k = 3).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // doc 10: eval windows (secret bench item), (bench item alpha) — only
    // the first occurs; positions 2..4 cut
    assert(out.toSeq == Seq(
      (10L, 7L, 4L, "intro words tail words"),
      (11L, 5L, 5L, "clean document nothing shared here"),
      (12L, 4L, 0L, "")))
  }

  test("chunk windows cover every token with the declared overlap") {
    import spark.implicits._
    val doc = (1 to 100).map(i => s"w$i").mkString(" ")
    val out = TextAnalysis.chunkWindows(Seq((1L, doc)).toDF("doc_id", "text"),
        window = 32, stride = 24)
      .orderBy("chunk_idx").collect()
    // 100 tokens -> ceil((100-32)/24)+1 = 4 chunks
    assert(out.length == 4)
    val chunks = out.map(_.getAs[String]("chunk").split(" ").toSeq)
    assert(chunks.map(_.length).toSeq == Seq(32, 32, 32, 28))
    // stride 24: chunk i starts at token 24*i; last token of doc is covered
    assert(chunks(1).head == "w25" && chunks(3).last == "w100")
    // overlap: last 8 tokens of chunk 0 = first 8 of chunk 1
    assert(chunks(0).takeRight(8) == chunks(1).take(8))
    // a short doc yields exactly one chunk
    val one = TextAnalysis.chunkWindows(Seq((2L, "a b c")).toDF("doc_id", "text"),
      window = 32, stride = 24).collect()
    assert(one.length == 1 && one(0).getAs[Long]("n_toks") == 3)
  }

  test("quality gate keeps ceil(frac*n) per source, highest scores first") {
    import spark.implicits._
    // 10 docs in one source, stopword share rises with doc_id
    val docs = (1 to 10).map { i =>
      val stop = Seq.fill(i)("the")
      val rest = Seq.fill(10 - i)("zzz")
      (i.toLong, "s1", (stop ++ rest).mkString(" "))
    }.toDF("doc_id", "source", "text")
    val kept = TextAnalysis.topQualityPerSource(docs, frac = 0.25)
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    // ceil(0.25*10)=3 -> the three highest-stopword docs
    assert(kept == Seq(8L, 9L, 10L))
  }

  test("balanceSources downsamples every source to the smallest source's count, deterministically") {
    import spark.implicits._
    val docs = ((1 to 5).map(i => (i.toLong, "a")) ++
      (6 to 8).map(i => (i.toLong, "b")) ++
      (9 to 15).map(i => (i.toLong, "c")))
      .map { case (id, s) => (id, s, s"text $id") }.toDF("doc_id", "source", "text")
    val out = Sampling.balanceSources(docs)
    val bySrc = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc == Map("a" -> 3L, "b" -> 3L, "c" -> 3L))
    // reproducible: same subset on a second run
    val ids1 = out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val ids2 = Sampling.balanceSources(docs).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids1 == ids2)
  }

  test("unigramSurprisal: hand-computed micro-nats on a tiny corpus") {
    import spark.implicits._
    // vocab: a:2 b:1, N=3 -> cost(a)=round(1e6*ln(3/2))=405465,
    // cost(b)=round(1e6*ln(3))=1098612; doc1 "a a b" mean=(2*405465+1098612)/3
    val docs = Seq((1L, "a a b")).toDF("doc_id", "text")
    val r = TextAnalysis.unigramSurprisal(docs).collect()(0)
    assert(r.getAs[Long]("n_tokens") == 3L)
    assert(r.getAs[Long]("surprisal_micro") == math.round((2 * 405465L + 1098612L) / 3.0))
  }

  test("quantizeInt8: scale from max |x|, half-away rounding") {
    import spark.implicits._
    val emb = Seq((1L, Seq(1.0f, -0.5f, 0.25f))).toDF("vec_id", "embedding")
    val r = Similarity.quantizeInt8(emb).collect()(0)
    assert(r.getAs[Long]("scale_micro") == 127000000L)
    assert(r.getSeq[Int](r.fieldIndex("q")).toSeq == Seq(127, -64, 32))
  }

  test("exact dedup keeps one row per distinct text") {
    Engine.registerTables(spark, sfDir)
    val docs = spark.table("documents")
    val deduped = Dedup.exact(docs)
    val distinctTexts = docs.select("text").distinct().count()
    assert(deduped.count() == distinctTexts)
  }

  test("incremental dedup drops cross-id content matches vs the old corpus, keeps within-batch dups") {
    import spark.implicits._
    val old = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "alpha beta"),   // same text as old doc 1 (different id) -> dropped
      (11L, "epsilon zeta"), // new content -> kept
      (12L, "epsilon zeta")  // within-batch dup -> BOTH kept (not this op's job)
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalDedup(fresh, old).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(11L, 12L))
  }

  test("token-budget sample: first doc per stratum survives, every kept doc starts inside the budget") {
    Engine.registerTables(spark, sfDir)
    val docs = spark.table("documents")
    val kept = Sampling.tokenBudgetSample(docs, budgetTokens = 100)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(kept.nonEmpty && kept.forall(_._4 < 100),
      "a kept doc starts at or beyond the budget")
    // the hash-first doc of every source present in the corpus is kept
    // (start_tok 0), and offsets within a source are cumulative
    val bySrc = kept.groupBy(_._2)
    val sources = docs.select("source").distinct().count()
    assert(bySrc.size == sources.toInt, "a stratum lost its first doc")
    bySrc.values.foreach { rows =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.head._4 == 0L)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._4 == a._4 + a._3, "offsets not contiguous")
        case _ =>
      }
    }
  }

  test("quality-aware cluster dedup keeps the arg-max-score member of every cluster") {
    Engine.registerTables(spark, sfDir)
    val docs = spark.table("documents")
    val labels = Components.dedupClusters(spark, docs)
      .select("doc_id", "component")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val scores = TextAnalysis.qualityScored(docs)
      .select("doc_id", "stop_bp")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val reps = Components.dedupClustersBestQuality(spark, docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // one rep per component, and it is the (score DESC, doc_id) argmax
    val comps = labels.values.toSet
    assert(reps.map(_._2).toSet == comps && reps.length == comps.size)
    reps.foreach { case (id, comp, score) =>
      val members = labels.collect { case (d, c) if c == comp => d }
      val best = members.minBy(d => (-scores(d), d))
      assert(id == best && score == scores(id),
        s"component $comp kept $id, expected $best")
    }
  }

  test("ANN recall is high on clustered vectors") {
    import spark.implicits._
    // 20 clusters of 25 near-identical vectors: ANN must find same-cluster
    // neighbors. Deterministic synthetic data.
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(20)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val vecs = (0 until 500).map { i =>
      val c = centers(i % 20)
      (i.toLong, c.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val qv = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
    val brute = Similarity.bruteForceTopK(emb.filter($"vec_id" =!= 0), qv, 10)
      .collect().map(_.getLong(0)).toSet
    val ann = Similarity.annTopK(emb.filter($"vec_id" =!= 0), qv, 10, planes = 6, probes = 6)
      .collect().map(_.getLong(0)).toSet
    val recall = brute.intersect(ann).size.toDouble / brute.size
    assert(recall >= 0.8, s"ANN recall $recall below 0.8 on clustered data")
  }

  test("planesFor keeps buckets near the target size") {
    assert(Similarity.planesFor(1000, 256) == 2)
    assert(Similarity.planesFor(1000000, 256) == 12)
    assert(Similarity.planesFor(100, 256) == 1) // floor
    assert(Similarity.planesFor(Long.MaxValue, 1) == 63)
  }

  test("indexed ANN: persisted signatures, bucket-pruned scan, recall holds") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(20)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val vecs = (0 until 500).map { i =>
      val c = centers(i % 20)
      (i.toLong, c.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    spark.sql("DROP TABLE IF EXISTS graft_ann_spec_idx")
    // a crashed previous run can leave the warehouse dir without the
    // catalog entry — saveAsTable then fails on LOCATION_ALREADY_EXISTS
    val loc = new java.io.File("spark-warehouse/graft_ann_spec_idx")
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(loc)
    }
    Similarity.buildAnnIndex(emb.filter($"vec_id" =!= 0), "graft_ann_spec_idx",
      planes = 6, numBuckets = 8)
    val qvec = vecs.head._2
    val ann = Similarity.annTopKIndexed(spark, "graft_ann_spec_idx", qvec, 10,
      planes = 6, probes = 6)
    val qv = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
    val brute = Similarity.bruteForceTopK(emb.filter($"vec_id" =!= 0), qv, 10)
      .collect().map(_.getLong(0)).toSet
    val got = ann.collect().map(_.getLong(0)).toSet
    val recall = brute.intersect(got).size.toDouble / brute.size
    assert(recall >= 0.9, s"indexed ANN recall $recall below 0.9 on clustered data")
    // scale posture: the query plan must not recompute signatures over the
    // corpus (they are a stored column) and must prune to candidate buckets
    val plan = ann.queryExecution.executedPlan.toString
    assert(!plan.contains("hyperplane_sig"), "per-query signature recompute in plan")
    assert(plan.contains("SelectedBucketsCount"), s"no bucket pruning in plan:\n$plan")
    spark.sql("DROP TABLE graft_ann_spec_idx")
  }

  test("IVF index: centroid-bucketed scan, driver-side probes, recall holds") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(20)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val vecs = (0 until 500).map { i =>
      val c = centers(i % 20)
      (i.toLong, c.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    Seq("graft_ivf_spec_idx", "graft_ivf_spec_idx_centroids").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(loc)
      }
    }
    Similarity.buildIvfIndex(emb.filter($"vec_id" =!= 0), "graft_ivf_spec_idx",
      nCentroids = 16, numBuckets = 8)
    val qvec = vecs.head._2
    val ivf = Similarity.ivfTopKIndexed(spark, "graft_ivf_spec_idx", qvec, 10, nprobe = 6)
    val qv = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
    val brute = Similarity.bruteForceTopK(emb.filter($"vec_id" =!= 0), qv, 10)
      .collect().map(_.getLong(0)).toSet
    val got = ivf.collect().map(_.getLong(0)).toSet
    val recall = brute.intersect(got).size.toDouble / brute.size
    assert(recall >= 0.9, s"IVF recall $recall below 0.9 on clustered data")
    // scale posture: no per-query assignment over the corpus (cid is a
    // stored column), bucket pruning active
    val plan = ivf.queryExecution.executedPlan.toString
    assert(!plan.contains("cosine_sim(embedding, [") || !plan.contains("array_max"),
      "per-query centroid re-assignment in plan")
    assert(plan.contains("SelectedBucketsCount"), s"no bucket pruning in plan:\n$plan")
    // determinism: rebuilding the index yields identical assignments
    val ivf2 = Similarity.ivfTopKIndexed(spark, "graft_ivf_spec_idx", qvec, 10, nprobe = 6)
    assert(ivf2.collect().map(_.getLong(0)).toSet == got)
    Seq("graft_ivf_spec_idx", "graft_ivf_spec_idx_centroids")
      .foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("indexed ANN plans on a pinned clone; base-session conf untouched under concurrency") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 200).map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val emb = vecs.toDF("vec_id", "embedding")
    spark.sql("DROP TABLE IF EXISTS graft_ann_race_idx")
    val loc = new java.io.File("spark-warehouse/graft_ann_race_idx")
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(loc)
    }
    Similarity.buildAnnIndex(emb, "graft_ann_race_idx", planes = 4, numBuckets = 4)
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val default = spark.conf.get(key)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (0 until 16).map { i =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = {
            val df = Similarity.annTopKIndexed(spark, "graft_ann_race_idx",
              vecs(i)._2, 5, planes = 4, probes = 2)
            df.collect()
            // the round-2 shape flipped this on the shared session around
            // planning — any concurrent observer could see "false" here
            assert(spark.conf.get(key) == default, "base session conf mutated")
            df.queryExecution.executedPlan.toString
          }
        })
      }
      futures.foreach { f =>
        val plan = f.get(120, java.util.concurrent.TimeUnit.SECONDS)
        assert(plan.contains("SelectedBucketsCount"), s"no bucket pruning:\n$plan")
      }
    } finally pool.shutdown()
    assert(spark.conf.get(key) == default)
    spark.sql("DROP TABLE graft_ann_race_idx")
  }

  test("ASOF JOIN SQL routes to the merge operator and matches the range-join rewrite") {
    Engine.registerTables(spark, sfDir)
    val q = graft.DeclaredQueries.all.toMap.apply("q22_asof_join")
    val viaEngine = Engine.sql(spark, q)
    val analyzed = viaEngine.queryExecution.analyzed.toString
    assert(!analyzed.contains("__graft_asof_rn"),
      s"merge-eligible asof still used the range-join rewrite:\n$analyzed")
    val viaRange = spark.sql(graft.dialect.Translator.sparkSql(q))
    assert(viaEngine.collect().toSeq == viaRange.collect().toSeq)
  }

  test("forward-direction ASOF (>=) routes to merge and matches the range rewrite") {
    Engine.registerTables(spark, sfDir)
    val q = "SELECT e.event_id, o.o_orderdate FROM events e ASOF JOIN orders o " +
      "ON o.o_custkey = e.user_id AND o.o_orderdate >= e.ts ORDER BY e.event_id LIMIT 100"
    val viaEngine = Engine.sql(spark, q)
    assert(!viaEngine.queryExecution.analyzed.toString.contains("__graft_asof_rn"))
    val viaRange = spark.sql(graft.dialect.Translator.sparkSql(q))
    assert(viaEngine.collect().toSeq == viaRange.collect().toSeq)
  }

  test("declared q61 forward ASOF is non-vacuous and merge-routed") {
    // round-3 verdict: the old q61 could never match on the fixture (events
    // are 2024, orders 1995-2001), so its oracle row proved nothing. The
    // amended form must produce rows and still take the merge route.
    Engine.registerTables(spark, sfDir)
    val q = graft.DeclaredQueries.all.toMap.apply("q61_asof_forward")
    val viaEngine = Engine.sql(spark, q)
    assert(!viaEngine.queryExecution.analyzed.toString.contains("__graft_asof_rn"),
      "q61 fell back to the range rewrite")
    val rows = viaEngine.collect().toSeq
    assert(rows.nonEmpty, "amended q61 is still vacuous on the fixture")
    assert(rows == spark.sql(graft.dialect.Translator.sparkSql(q)).collect().toSeq)
  }

  test("merge-routed asof gives SQL join semantics for NULL keys and times") {
    import spark.implicits._
    Seq((Some(1L), Some(10L), "l1"), (None, Some(10L), "l2"), (Some(2L), None, "l3"))
      .toDF("k", "t", "lv").createOrReplaceTempView("asof_nulls_l")
    Seq((Some(1L), Some(5L), "r1"), (None, Some(1L), "r2"), (Some(2L), None, "r3"))
      .toDF("k2", "t2", "rv").createOrReplaceTempView("asof_nulls_r")
    val q = "SELECT l.lv, r.rv FROM asof_nulls_l l ASOF JOIN asof_nulls_r r " +
      "ON r.k2 = l.k AND r.t2 <= l.t ORDER BY lv"
    val merged = Engine.sql(spark, q)
    assert(!merged.queryExecution.analyzed.toString.contains("__graft_asof_rn"))
    val ranged = spark.sql(graft.dialect.Translator.sparkSql(q))
    val m = merged.collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(m == ranged.collect().map(r => (r.getString(0), r.getString(1))).toSeq)
    assert(m == Seq(("l1", "r1"))) // NULL key/time rows never match
  }

  test("asof WHERE variants route to merge: left-pushed, post-join, strict ops") {
    Engine.registerTables(spark, sfDir)
    def viaBoth(q: String, expectMerge: Boolean): Unit = {
      val merged = Engine.sql(spark, q)
      val usedRange = merged.queryExecution.analyzed.toString.contains("__graft_asof_rn")
      assert(usedRange == !expectMerge,
        s"expected merge=$expectMerge for: $q")
      val ranged = spark.sql(graft.dialect.Translator.sparkSql(q))
      assert(merged.collect().toSeq == ranged.collect().toSeq, s"mismatch for: $q")
    }
    // left-only WHERE (pushed below the join)
    viaBoth("SELECT e.event_id, o.o_orderdate FROM events e ASOF JOIN orders o " +
      "ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts " +
      "WHERE e.event_id <= 50 ORDER BY e.event_id", expectMerge = true)
    // right-col WHERE (post-join, payload rides along)
    viaBoth("SELECT e.event_id, o.o_orderdate FROM events e ASOF JOIN orders o " +
      "ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts " +
      "WHERE o.o_orderdate >= DATE '1995-01-01' ORDER BY e.event_id LIMIT 100", expectMerge = true)
    // mixed conjuncts
    viaBoth("SELECT e.event_id, o.o_orderdate FROM events e ASOF JOIN orders o " +
      "ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts " +
      "WHERE e.event_id <= 500 AND o.o_orderdate >= DATE '1995-01-01' " +
      "ORDER BY e.event_id LIMIT 100", expectMerge = true)
    // strict backward and strict forward
    viaBoth("SELECT e.event_id, o.o_orderdate FROM events e ASOF JOIN orders o " +
      "ON o.o_custkey = e.user_id AND o.o_orderdate < e.ts ORDER BY e.event_id LIMIT 100",
      expectMerge = true)
    viaBoth("SELECT e.event_id, o.o_orderdate FROM events e ASOF JOIN orders o " +
      "ON o.o_custkey = e.user_id AND o.o_orderdate > e.ts ORDER BY e.event_id LIMIT 100",
      expectMerge = true)
    // LEFT asof + right-col WHERE: unmatched rows carry NULL payload and
    // the post-join filter drops them (SQL semantics, both routes agree)
    viaBoth("SELECT e.event_id, o.o_orderdate FROM events e ASOF LEFT JOIN orders o " +
      "ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts " +
      "WHERE o.o_orderdate >= DATE '1995-01-01' ORDER BY e.event_id LIMIT 100",
      expectMerge = true)
    // a function call in WHERE still falls back to the range rewrite
    // (over a projected column — the range rewrite resolves WHERE against
    // its inner projection)
    viaBoth("SELECT e.event_id, o.o_orderdate FROM events e ASOF JOIN orders o " +
      "ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts " +
      "WHERE abs(e.event_id) <= 500 ORDER BY e.event_id LIMIT 100", expectMerge = false)
  }

  test("strict asof excludes equal timestamps (merge vs DuckDB-verified semantics)") {
    import spark.implicits._
    Seq((1L, 10L), (1L, 20L)).toDF("k", "t").createOrReplaceTempView("asof_strict_l")
    Seq((1L, 10L, 100L), (1L, 15L, 150L)).toDF("k2", "t2", "v")
      .createOrReplaceTempView("asof_strict_r")
    def run(op: String): Seq[(Long, Long)] = {
      val df = Engine.sql(spark, "SELECT l.t, r.v FROM asof_strict_l l ASOF JOIN asof_strict_r r " +
        s"ON r.k2 = l.k AND r.t2 $op l.t ORDER BY l.t")
      assert(!df.queryExecution.analyzed.toString.contains("__graft_asof_rn"), s"op $op not merged")
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    // oracle values confirmed against DuckDB 1.0: <=, <, >=, >
    assert(run("<=") == Seq((10L, 100L), (20L, 150L)))
    assert(run("<") == Seq((20L, 150L)))
    assert(run(">=") == Seq((10L, 100L)))
    assert(run(">") == Seq((10L, 150L)))
  }

  test("asof merge operator matches the SQL-rewrite asof on sf0.001") {
    Engine.registerTables(spark, sfDir)
    val viaSql = SparkEntry.queries("q22_asof_join")(spark, sfDir)
      .collect().map(r => (r.getLong(0), String.valueOf(r.get(1)))).toSeq
    val viaMerge = SparkEntry.queries("p16_asof_merge")(spark, sfDir)
      .collect().map(r => (r.getLong(0), String.valueOf(r.get(1)))).toSeq
    assert(viaMerge == viaSql)
  }

  test("multimodal feature extraction preserves schema and batch shape") {
    Engine.registerTables(spark, sfDir)
    val items = Multimodal.mediaFromDocuments(spark, spark.table("documents"))
    // metadata must be Catalyst expressions (codegen), not seam-side JVM code
    val plan = Multimodal.extractFeatures(items, batchSize = 7).queryExecution
      .optimizedPlan.toString
    assert(plan.contains("md5(") && plan.contains("octet_length("),
      s"nBytes/contentHash not computed as Catalyst expressions:\n$plan")
    val feats = Multimodal.extractFeatures(items, batchSize = 7).collect()
    assert(feats.length == spark.table("documents").count())
    assert(feats.forall(_.features.length == Multimodal.featureDim))
    assert(feats.forall(f => f.features.forall(v => v >= -1.0f && v < 1.0f)))
    // determinism: same payload → same features
    val f0 = Multimodal.extractFeatures(items, batchSize = 3).collect()
      .sortBy(_.id).map(_.contentHash)
    assert(f0.sameElements(feats.sortBy(_.id).map(_.contentHash)))
  }

  test("list_sum / list_avg evaluate correctly end-to-end") {
    val r = Engine.sql(spark,
      "SELECT list_sum([1.0, 2.0, 3.5]) AS s, list_avg([2, 4, 6]) AS a").head
    assert(math.abs(r.getDouble(0) - 6.5) < 1e-9)
    assert(math.abs(r.getDouble(1) - 4.0) < 1e-9)
  }

  test("list_min/max/distinct/concat/append map to Spark array functions") {
    val r = Engine.sql(spark,
      "SELECT list_min([3, 1, 2]) AS mn, list_max([3, 1, 2]) AS mx, " +
        "array_length(list_distinct([1, 1, 2])) AS nd, " +
        "list_concat([1], [2, 3]) AS cc, list_append([1, 2], 9) AS ap").head
    assert(r.getInt(0) == 1 && r.getInt(1) == 3 && r.getInt(2) == 2)
    assert(r.getSeq[Int](3) == Seq(1, 2, 3))
    assert(r.getSeq[Int](4) == Seq(1, 2, 9))
  }

  test("SHOW family works on a cloned tenant session (fresh temp-view state)") {
    val tm = new graft.server.TenantManager(spark)
    val s = tm.sessionFor(Some(("carol", "pw")))
    assert(s ne spark)
    val dbs = Engine.sql(s, "SHOW DATABASES")
    assert(dbs.columns.toSeq == Seq("catalog_name", "schema_name", "description"))
    assert(dbs.count() > 0)
    assert(Engine.sql(s, "SHOW TABLES").columns.toSeq ==
      Seq("table_name", "schema_name", "catalog_name", "table_type"))
  }

  test("USING SAMPLE, EXCLUDE star, SUMMARIZE run end-to-end") {
    Engine.registerTables(spark, sfDir)
    val sampled = Engine.sql(spark, "SELECT * FROM orders USING SAMPLE 50%").count()
    assert(sampled > 0 && sampled < spark.table("orders").count())
    val ex = Engine.sql(spark, "SELECT * EXCLUDE (o_orderpriority, o_orderdate) FROM orders LIMIT 1")
    assert(!ex.columns.contains("o_orderpriority"))
    assert(ex.columns.contains("o_orderkey"))
    // SUMMARIZE emits DuckDB's exact 12-column shape (r7 session 3):
    // VARCHAR-rendered min/max, sample std, TOTAL-rows count,
    // DECIMAL(9,2) half-up null_percentage — all probe-pinned
    val summ = Engine.sql(spark, "SUMMARIZE region")
    assert(summ.columns.toSeq == Seq("column_name", "column_type", "min",
      "max", "approx_unique", "avg", "std", "q25", "q50", "q75", "count",
      "null_percentage"))
    val rk = summ.filter(col("column_name") === "r_regionkey").head()
    assert(rk.getString(summ.columns.indexOf("min")) == "0")
    assert(rk.getLong(summ.columns.indexOf("count")) ==
      spark.table("region").count())
    assert(rk.getDecimal(summ.columns.indexOf("null_percentage"))
      .toPlainString == "0.00")
    // non-numeric columns: avg/std/q* NULL (DuckDB shape)
    val rn = summ.filter(col("column_name") === "r_name").head()
    assert(rn.isNullAt(summ.columns.indexOf("avg")))
    // query form + derived-table form
    val q = Engine.sql(spark,
      "SELECT column_name, null_percentage FROM (SUMMARIZE SELECT r_regionkey, " +
        "CASE WHEN r_regionkey < 2 THEN NULL ELSE r_regionkey END AS ropt FROM region) " +
        "ORDER BY column_name")
    val pct = q.collect().map(r => (r.getString(0), r.getDecimal(1).toPlainString)).toMap
    assert(pct("r_regionkey") == "0.00" && pct("ropt") == "40.00")
  }

  test("sequences and CREATE VIEW pin DuckDB semantics (r7 session 3)") {
    Engine.registerTables(spark, sfDir)
    Engine.sql(spark, "DROP SEQUENCE IF EXISTS sp_seq")
    Engine.sql(spark, "CREATE SEQUENCE sp_seq START 5 INCREMENT 3")
    // duplicate CREATE without OR REPLACE errors; IF NOT EXISTS no-ops
    intercept[IllegalStateException] {
      Engine.sql(spark, "CREATE SEQUENCE sp_seq")
    }
    Engine.sql(spark, "CREATE SEQUENCE IF NOT EXISTS sp_seq START 999")
    val r = Engine.sql(spark,
      "SELECT nextval('sp_seq') AS a, nextval('sp_seq') AS b").head()
    assert(r.getLong(0) == 5L && r.getLong(1) == 8L) // START survived IF NOT EXISTS
    assert(Engine.sql(spark, "SELECT currval('sp_seq') AS c").head().getLong(0) == 8L)
    Engine.sql(spark, "DROP SEQUENCE sp_seq")
    intercept[IllegalStateException] {
      Engine.sql(spark, "DROP SEQUENCE sp_seq")
    }
    // CREATE VIEW: body through the dialect layer; duplicate errors
    // without OR REPLACE; session-scoped
    Engine.sql(spark,
      "CREATE OR REPLACE VIEW sp_v AS SELECT count() AS n, FROM region")
    assert(Engine.sql(spark, "SELECT n FROM sp_v").head().getLong(0) == 5L)
    intercept[IllegalStateException] {
      Engine.sql(spark, "CREATE VIEW sp_v AS SELECT 1 AS x")
    }
    Engine.sql(spark, "CREATE VIEW IF NOT EXISTS sp_v AS SELECT 1 AS x")
    assert(Engine.sql(spark, "SELECT n FROM sp_v").head().getLong(0) == 5L)
  }

  test("ALTER TABLE column ops pin DuckDB semantics (r7 session 3)") {
    Engine.registerTables(spark, sfDir)
    Engine.sql(spark, "DROP TABLE IF EXISTS sp_alter")
    Engine.sql(spark, "CREATE TABLE sp_alter AS SELECT 1 AS a, 'x' AS b")
    Engine.sql(spark, "ALTER TABLE sp_alter ADD COLUMN c INTEGER DEFAULT 7")
    // duplicate add errors; IF NOT EXISTS no-ops and keeps the original
    intercept[Exception] {
      Engine.sql(spark, "ALTER TABLE sp_alter ADD COLUMN c INTEGER")
    }
    Engine.sql(spark, "ALTER TABLE sp_alter ADD COLUMN IF NOT EXISTS c VARCHAR")
    Engine.sql(spark, "ALTER TABLE sp_alter RENAME a TO a2")
    Engine.sql(spark,
      "ALTER TABLE sp_alter ALTER COLUMN a2 SET DATA TYPE VARCHAR USING a2 || '!'")
    Engine.sql(spark, "ALTER TABLE sp_alter ADD COLUMN d VARCHAR")
    Engine.sql(spark, "ALTER TABLE sp_alter DROP COLUMN d")
    Engine.sql(spark, "ALTER TABLE sp_alter DROP COLUMN IF EXISTS zz")
    intercept[Exception] {
      Engine.sql(spark, "ALTER TABLE sp_alter DROP COLUMN zz")
    }
    val r = Engine.sql(spark, "SELECT * FROM sp_alter").head()
    assert(Engine.sql(spark, "SELECT * FROM sp_alter").columns.toSeq ==
      Seq("a2", "b", "c"))
    assert(r.getString(0) == "1!" && r.getString(1) == "x" && r.getInt(2) == 7)
    // DML-target guard: ALTERing a fixture view must refuse loudly
    intercept[Exception] {
      Engine.sql(spark, "ALTER TABLE region ADD COLUMN oops INTEGER")
    }
    Engine.sql(spark, "DROP TABLE sp_alter")
  }

  test("PREPARE/EXECUTE/DEALLOCATE pin DuckDB semantics (r7 session 3)") {
    Engine.registerTables(spark, sfDir)
    Engine.sql(spark, "PREPARE sp_pq AS SELECT $1 + 1 AS v, upper($2) AS s")
    val r = Engine.sql(spark, "EXECUTE sp_pq(41, 'hi')").head()
    assert(r.get(0).toString == "42" && r.getString(1) == "HI")
    // ? placeholders fill left-to-right; $ inside string literals survive
    Engine.sql(spark,
      "PREPARE sp_pq2 AS SELECT ? AS a, ? AS b, '$1 ? untouched' AS lit")
    val r2 = Engine.sql(spark, "EXECUTE sp_pq2(7, 'x')").head()
    assert(r2.get(0).toString == "7" && r2.getString(1) == "x" &&
      r2.getString(2) == "$1 ? untouched")
    // re-PREPARE replaces; DEALLOCATE removes; both error paths loud
    Engine.sql(spark, "PREPARE sp_pq AS SELECT 99 AS v")
    assert(Engine.sql(spark, "EXECUTE sp_pq").head().get(0).toString == "99")
    Engine.sql(spark, "DEALLOCATE sp_pq")
    intercept[IllegalStateException] { Engine.sql(spark, "EXECUTE sp_pq") }
    intercept[IllegalStateException] { Engine.sql(spark, "DEALLOCATE sp_pq") }
    Engine.sql(spark, "DEALLOCATE PREPARE sp_pq2")
    // a `?` or `$n` inside a comment is no placeholder
    Engine.sql(spark, "PREPARE sp_pq3 AS SELECT 41 + ? -- one arg?\n AS y")
    assert(Engine.sql(spark, "EXECUTE sp_pq3(1)").head.get(0).toString == "42")
    Engine.sql(spark, "PREPARE sp_pq4 AS SELECT 1 + $1 /* $2 isn't bound */ AS y")
    assert(Engine.sql(spark, "EXECUTE sp_pq4(1)").head.get(0).toString == "2")
    Engine.sql(spark, "DEALLOCATE sp_pq3")
    Engine.sql(spark, "DEALLOCATE sp_pq4")
  }

  test("information_schema emulation and version()") {
    // DDL goes through Engine.sql (the server path) so the cached catalog
    // snapshot is invalidated; raw spark.sql DDL must bumpCatalogVersion
    Engine.sql(spark, "DROP TABLE IF EXISTS graft_info_probe")
    Engine.sql(spark, "CREATE TABLE graft_info_probe (a BIGINT, b STRING) USING parquet")
    val schemas = Engine.sql(spark,
      "SELECT schema_name FROM information_schema.schemata ORDER BY schema_name")
      .collect().map(_.getString(0))
    assert(schemas.contains("default"))
    val cols = Engine.sql(spark,
      "SELECT column_name, data_type FROM information_schema.columns WHERE table_name = 'graft_info_probe' ORDER BY ordinal_position")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(cols.toSeq == Seq(("a", "bigint"), ("b", "string")))
    val v = Engine.sql(spark, "SELECT version() AS v").head.getString(0)
    assert(v.startsWith("graft-spark"))
    Engine.sql(spark, "DROP TABLE graft_info_probe")
  }

  test("catalog snapshot is cached until DDL and sees new tables after it") {
    val s1 = Engine.infoSnapshot(spark)
    val s2 = Engine.infoSnapshot(spark)
    assert(s1 eq s2, "unchanged catalog must reuse the cached snapshot")
    Engine.sql(spark, "CREATE TABLE graft_snap_probe (x BIGINT) USING parquet")
    val s3 = Engine.infoSnapshot(spark)
    assert(!(s3 eq s1))
    assert(s3.tables.exists(_._3 == "graft_snap_probe"))
    Engine.sql(spark, "DROP TABLE graft_snap_probe")
    assert(!Engine.infoSnapshot(spark).tables.exists(_._3 == "graft_snap_probe"))
  }

  test("one column-type snapshot feeds every schema-aware resolver after DDL") {
    Engine.registerTables(spark, sfDir)
    // warm the (session, DDL version) snapshot before the table exists
    Engine.sql(spark, "SELECT len(n_name) AS x, n_name[1] AS y FROM nation").collect()
    Engine.sql(spark, "DROP TABLE IF EXISTS graft_coltype_snap")
    Engine.sql(spark, "CREATE TABLE graft_coltype_snap USING parquet AS SELECT " +
      "map('k', 7) AS snap_m, array(1, 2, 3) AS snap_arr, " +
      "DATE '2024-01-02' AS snap_d, 'abc' AS snap_s, " +
      "CAST(7.50 AS DECIMAL(10, 2)) AS snap_dec")
    try {
      val df = Engine.sql(spark, "SELECT snap_m['k'] AS m, len(snap_arr) AS n, " +
        "snap_d - snap_d AS days, snap_s[2] AS c, snap_dec / snap_dec AS q " +
        "FROM graft_coltype_snap")
      val r = df.head
      val plan = df.queryExecution.analyzed.toString
      assert(r.getSeq[Int](0) == Seq(7)) // MAP: duck's list-valued subscript
      // ARRAY: len() is size(), not the type-dispatched graft_len()
      assert(r.getInt(1) == 3 && plan.contains("size(snap_arr"), plan)
      assert(r.getInt(2) == 0) // DATE: minus is integer days
      assert(r.getString(3) == "b") // VARCHAR: character subscript
      // DECIMAL: the division stays a plain `/`, no try_divide
      assert("""\(snap_dec#\d+ / snap_dec#\d+\)""".r.findFirstIn(plan).nonEmpty, plan)
    } finally Engine.sql(spark, "DROP TABLE IF EXISTS graft_coltype_snap")
  }

  test("CREATE MACRO: scalar macros expand with defaults, nesting, and redefinition") {
    Engine.registerTables(spark, sfDir)
    Engine.sql(spark, "CREATE MACRO add1(x) AS x + 1")
    assert(Engine.sql(spark, "SELECT add1(41) AS v").head.get(0).toString == "42")
    // precedence survives textual expansion
    assert(Engine.sql(spark, "SELECT 2 * add1(1) AS v").head.get(0).toString == "4")
    // default parameter
    Engine.sql(spark, "CREATE MACRO add_tax(p, rate := 0.25) AS p * (1 + rate)")
    assert(Engine.sql(spark, "SELECT CAST(add_tax(100) AS INT) AS v").head.getInt(0) == 125)
    assert(Engine.sql(spark, "SELECT CAST(add_tax(100, 0.5) AS INT) AS v").head.getInt(0) == 150)
    // macros calling macros
    Engine.sql(spark, "CREATE MACRO add2(x) AS add1(add1(x))")
    assert(Engine.sql(spark, "SELECT add2(40) AS v").head.get(0).toString == "42")
    // works over tables + with the dialect (count() rewrite) around it
    val n = Engine.sql(spark,
      "SELECT count() AS c FROM nation WHERE add1(n_nationkey) >= 25").head.getLong(0)
    assert(n == 1L) // nations are 0..24; only 24 + 1 >= 25
    // redefinition replaces
    Engine.sql(spark, "CREATE OR REPLACE MACRO add1(x) AS x + 100")
    assert(Engine.sql(spark, "SELECT add1(1) AS v").head.get(0).toString == "101")
    // drop: the name falls back to unresolved-function analysis error
    Engine.sql(spark, "DROP MACRO add1")
    intercept[Exception] { Engine.sql(spark, "SELECT add1(1)").collect() }
    // table macro in FROM position
    Engine.sql(spark, "CREATE MACRO top_nations() AS TABLE SELECT n_nationkey FROM nation WHERE n_nationkey > 20")
    assert(Engine.sql(spark, "SELECT count(*) AS c FROM top_nations()").head.getLong(0) == 4L)
  }

  test("PRAGMA statements: informational map to catalog queries, settings are no-ops") {
    Engine.registerTables(spark, sfDir)
    val v = Engine.sql(spark, "PRAGMA version")
    assert(v.columns.toSeq == Seq("library_version", "source_id") && v.count() == 1)
    val st = Engine.sql(spark, "PRAGMA show_tables")
    assert(st.columns.toSeq == Seq("name"))
    assert(st.collect().map(_.getString(0)).contains("region"))
    val ti = Engine.sql(spark, "PRAGMA table_info('region')")
    assert(ti.columns.toSeq == Seq("cid", "name", "type", "notnull", "dflt_value", "pk"))
    assert(ti.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((0L, "r_regionkey"), (1L, "r_name")))
    val dl = Engine.sql(spark, "PRAGMA database_list")
    assert(dl.columns.toSeq == Seq("seq", "name", "file") && dl.count() >= 1)
    // setting pragmas in every DuckDB spelling: accepted, empty result
    assert(Engine.sql(spark, "PRAGMA enable_progress_bar").isEmpty)
    assert(Engine.sql(spark, "PRAGMA memory_limit='2GB'").isEmpty)
    assert(Engine.sql(spark, "PRAGMA threads(4)").isEmpty)
    // unknown BARE pragma errors, as DuckDB does (r6): silently returning
    // empty for a typo'd or unimplemented informational pragma masks bugs
    val bad = intercept[IllegalArgumentException] {
      Engine.sql(spark, "PRAGMA vresion")
    }
    assert(bad.getMessage.contains("vresion"))
  }

  test("DuckDB session statements: INSTALL/LOAD/BEGIN/COMMIT no-op, ROLLBACK errors") {
    Engine.registerTables(spark, sfDir)
    Seq("INSTALL httpfs", "FORCE INSTALL chsql", "LOAD httpfs", "CHECKPOINT",
        "ANALYZE", "ANALYZE region", "BEGIN TRANSACTION", "BEGIN", "COMMIT",
        "VACUUM").foreach { s =>
      assert(Engine.sql(spark, s).isEmpty, s"expected empty no-op for: $s")
    }
    val e = intercept[UnsupportedOperationException] { Engine.sql(spark, "ROLLBACK") }
    assert(e.getMessage.contains("auto-commit"))
    // the real Spark statement with the shared keyword still passes
    // through to Spark (which rejects temp views — proof it was NOT
    // swallowed by the no-op matcher)
    val pass = intercept[Exception] {
      Engine.sql(spark, "ANALYZE TABLE region COMPUTE STATISTICS")
    }
    assert(pass.getMessage.contains("ANALYZE TABLE"))
  }

  test("DESCRIBE <query> returns DuckDB's six-column shape; EXPORT/IMPORT DATABASE round-trips") {
    Engine.registerTables(spark, sfDir)
    val d = Engine.sql(spark, "DESCRIBE SELECT r_regionkey, r_name FROM region")
    assert(d.columns.toSeq ==
      Seq("column_name", "column_type", "null", "key", "default", "extra"))
    // DuckDB type spellings (r7 session 3 — was Spark's INT/STRING)
    assert(d.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("r_regionkey", "INTEGER"), ("r_name", "VARCHAR")))
    // DESCRIBE <table> / SHOW <table> take the same DuckDB six-column shape
    assert(Engine.sql(spark, "DESCRIBE region").columns.head == "column_name")
    assert(Engine.sql(spark, "SHOW region").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("r_regionkey", "INTEGER"), ("r_name", "VARCHAR")))
    // export -> drop a view -> import restores it with the same rows
    val dir = java.nio.file.Files.createTempDirectory("graft_exp").toString
    val nRegion = spark.table("region").count()
    assert(Engine.sql(spark, s"EXPORT DATABASE '$dir'").isEmpty)
    assert(new java.io.File(s"$dir/region.parquet").exists())
    assert(new java.io.File(s"$dir/schema.sql").exists())
    val load = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "load.sql")), "UTF-8")
    assert(load.contains("COPY region FROM") && load.contains("FORMAT PARQUET"))
    // the companions must be DuckDB-loadable (r6): COPY globs the parquet
    // DIRECTORY Spark wrote, and schema.sql uses DuckDB type spellings
    assert(load.contains("region.parquet/*.parquet'"))
    val schema = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "schema.sql")), "UTF-8")
    assert(schema.contains("VARCHAR") && !schema.contains("STRING"))
    spark.catalog.dropTempView("region")
    assert(Engine.sql(spark, s"IMPORT DATABASE '$dir'").isEmpty)
    assert(spark.table("region").count() == nRegion)
    // import is atomic on bad names (r6): an entry that is not a valid
    // identifier fails the whole import BEFORE any view registration
    val dir2 = java.nio.file.Files.createTempDirectory("graft_imp").toString
    spark.range(1).toDF("id").write.parquet(s"$dir2/good_tbl.parquet")
    spark.range(1).toDF("id").write.parquet(s"$dir2/bad tbl.parquet")
    val atomicErr = intercept[IllegalArgumentException] {
      Engine.sql(spark, s"IMPORT DATABASE '$dir2'")
    }
    assert(atomicErr.getMessage.contains("bad tbl"))
    assert(!spark.catalog.tableExists("good_tbl"))
  }

  test("subscript edge semantics match DuckDB (pinned by probe)") {
    Engine.registerTables(spark, sfDir)
    // every expected value here was verified against DuckDB directly:
    // zero index → NULL; negative-from-end inclusive bounds ([:-1] is the
    // FULL list, -1 = last element); crossed bounds → []; 0/off-front
    // start clamps to 1; NULL index or bound → NULL (CASE guards, not
    // greatest — greatest would swallow the NULL)
    val r = Engine.sql(spark,
      "SELECT ([1,2,3])[0] AS z, ([1,2,3,4,5])[:-1] AS ne, ([1,2,3,4,5])[2:-2] AS mid, " +
        "([1,2,3,4,5])[-2:] AS tl, ([1,2,3,4,5])[4:2] AS xe, ([1,2,3,4,5])[0:2] AS cl, " +
        "([1,2,3])[-1] AS lst, ([1,2,3])[2:NULL] AS nb, ([1,2,3])[NULL:] AS ns, ([1,2,3])[NULL] AS ni, " +
        "list_slice([1,2,3], 4, 2) AS fx, list_slice([1,2,3], 0, 2) AS fc, " +
        "list_slice([1,2,3,4,5], -2, -1) AS fn, list_slice([1,2,3], 2, NULL) AS fnl").head
    assert(r.isNullAt(r.fieldIndex("z")))
    assert(r.getSeq[Int](r.fieldIndex("ne")) == Seq(1, 2, 3, 4, 5))
    assert(r.getSeq[Int](r.fieldIndex("mid")) == Seq(2, 3, 4))
    assert(r.getSeq[Int](r.fieldIndex("tl")) == Seq(4, 5))
    assert(r.getSeq[Int](r.fieldIndex("xe")) == Seq())
    assert(r.getSeq[Int](r.fieldIndex("cl")) == Seq(1, 2))
    assert(r.getInt(r.fieldIndex("lst")) == 3)
    assert(r.isNullAt(r.fieldIndex("nb")))
    assert(r.isNullAt(r.fieldIndex("ns")))
    assert(r.isNullAt(r.fieldIndex("ni")))
    assert(r.getSeq[Int](r.fieldIndex("fx")) == Seq())
    assert(r.getSeq[Int](r.fieldIndex("fc")) == Seq(1, 2))
    assert(r.getSeq[Int](r.fieldIndex("fn")) == Seq(4, 5))
    assert(r.isNullAt(r.fieldIndex("fnl")))
  }

  test("macro substitution skips dot-qualified identifiers; recursion errors at the cap") {
    Engine.registerTables(spark, sfDir)
    // body references BOTH the bare param (substituted) and a dot-qualified
    // column of the same name (reg.r_name — a column of reg, NOT the macro
    // argument; substituting it would corrupt the body to reg.('ASIA'))
    Engine.sql(spark,
      "CREATE OR REPLACE MACRO cnt_named(r_name) AS (SELECT count(*) FROM region reg WHERE reg.r_name = r_name)")
    assert(Engine.sql(spark, "SELECT CAST(cnt_named('ASIA') AS INT) AS c").head.getInt(0) == 1)
    // a self-recursive macro must surface an error, not half-expanded SQL
    Engine.sql(spark, "CREATE OR REPLACE MACRO loopy(x) AS loopy(x) + 1")
    val e = intercept[IllegalArgumentException] { Engine.sql(spark, "SELECT loopy(1) AS v") }
    assert(e.getMessage.contains("recursive"))
    Engine.sql(spark, "DROP MACRO cnt_named")
    Engine.sql(spark, "DROP MACRO loopy")
  }

  test("EXPLAIN passes through the dialect layer") {
    // r7: output reshaped to DuckDB's (explain_key, explain_value) pair
    Engine.registerTables(spark, sfDir)
    val out = Engine.sql(spark,
      "EXPLAIN SELECT c_custkey FROM customer WHERE c_nationkey = 7").collect()
    assert(out.nonEmpty && out.head.getString(0) == "physical_plan")
    assert(out.head.getString(1).contains("Scan parquet"))
  }

  test("EXPLAIN returns the translated query's formatted Spark plan") {
    Engine.registerTables(spark, sfDir)
    val rows = Engine.sql(spark,
      "EXPLAIN SELECT count() AS n FROM lineitem WHERE l_quantity > 40").collect()
    assert(rows.length == 1 && rows(0).getString(0) == "physical_plan")
    val plan = rows(0).getString(1)
    assert(plan.contains("HashAggregate") && plan.contains("Scan parquet"))
    // EXPLAIN ANALYZE executes and still yields a plan
    val ran = Engine.sql(spark,
      "EXPLAIN ANALYZE SELECT count() AS n FROM region").collect()
    assert(ran.length == 1 && ran(0).getString(1).contains("Scan"))
  }

  test("DESCRIBE and SHOW CREATE TABLE pass through the dialect layer") {
    Engine.registerTables(spark, sfDir)
    val desc = Engine.sql(spark, "DESCRIBE region").collect()
    assert(desc.map(_.getString(0)).toSeq == Seq("r_regionkey", "r_name"))
    Engine.sql(spark, "CREATE TABLE IF NOT EXISTS graft_sct_probe (a BIGINT) USING parquet")
    val ddl = Engine.sql(spark, "SHOW CREATE TABLE graft_sct_probe").head.getString(0)
    assert(ddl.contains("graft_sct_probe") && ddl.toUpperCase.contains("CREATE TABLE"))
    Engine.sql(spark, "DROP TABLE graft_sct_probe")
  }

  test("USE memory and COMMENT ON are accepted (r7 session 3)") {
    Engine.registerTables(spark, sfDir)
    assert(Engine.sql(spark, "USE memory").isEmpty)
    assert(Engine.sql(spark, "USE memory.main").isEmpty)
    assert(Engine.sql(spark, "COMMENT ON TABLE region IS 'it''s regions'").isEmpty)
    // the comment surfaces through duckdb_tables() (unescaped)
    val c = Engine.sql(spark,
      "SELECT comment FROM duckdb_tables() WHERE table_name = 'region'")
      .head.getString(0)
    assert(c == "it's regions")
    // IS NULL removes
    Engine.sql(spark, "COMMENT ON TABLE region IS NULL")
    assert(Engine.sql(spark,
      "SELECT comment FROM duckdb_tables() WHERE table_name = 'region'")
      .head.isNullAt(0))
    // duckdb_columns(): per-column rows with DuckDB type spellings
    val rc = Engine.sql(spark,
      "SELECT column_name, data_type FROM duckdb_columns() " +
        "WHERE table_name = 'region' ORDER BY column_index")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rc == Seq(("r_regionkey", "INTEGER"), ("r_name", "VARCHAR")))
  }

  test("SET / current_setting round-trip; unknown keys loud (r7 session 3)") {
    Engine.registerTables(spark, sfDir)
    Engine.sql(spark, "SET sp_probe_setting = 'hello'")
    assert(Engine.sql(spark, "SELECT current_setting('sp_probe_setting') AS v")
      .head.getString(0) == "hello")
    intercept[Exception] {
      Engine.sql(spark, "SELECT current_setting('sp_no_such_key_xyz') AS v")
    }
  }

  test("UPDATE FROM / DELETE USING pin DuckDB semantics (r7 session 3)") {
    import spark.implicits._
    Engine.registerTables(spark, sfDir)
    Engine.sql(spark, "DROP TABLE IF EXISTS sp_jdml")
    Engine.sql(spark,
      "CREATE TABLE sp_jdml AS SELECT o_orderkey AS id, o_totalprice AS price FROM orders WHERE o_orderkey < 5")
    val before = spark.table("sp_jdml").orderBy("id").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    Engine.sql(spark,
      "UPDATE sp_jdml SET price = s.o_totalprice * 2 FROM orders s " +
        "WHERE sp_jdml.id = s.o_orderkey AND s.o_orderkey < 3")
    val after = spark.table("sp_jdml").orderBy("id").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    (0L to 4L).foreach { id =>
      val want = if (id < 3) before(id) * 2 else before(id)
      assert(after(id) == want, s"id $id")
    }
    // a quote or a comma inside a comment is no syntax: the joined form is
    // still found, and SET keeps one assignment
    def price(id: Long) = spark.table("sp_jdml").where(s"id = $id").head.getDouble(1)
    val undo = Engine.sql(spark,
      "UPDATE sp_jdml SET price = s.o_totalprice -- don't\nFROM orders s " +
        "WHERE sp_jdml.id = s.o_orderkey AND s.o_orderkey = 1")
    assert(undo.head.getLong(0) == 1L && price(1) == before(1L))
    val seven = Engine.sql(spark, "UPDATE sp_jdml SET price = 7 -- a, b\n WHERE id = 1")
    assert(seven.head.getLong(0) == 1L && price(1) == 7.0)
    // DELETE USING removes matched rows only; RETURNING yields them
    val del = Engine.sql(spark,
      "DELETE FROM sp_jdml USING orders s WHERE sp_jdml.id = s.o_orderkey " +
        "AND s.o_orderkey >= 3 RETURNING id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(del == Seq(3L, 4L))
    assert(spark.table("sp_jdml").count() == 3)
    // bare TRUNCATE (no TABLE keyword)
    Engine.sql(spark, "TRUNCATE sp_jdml")
    assert(spark.table("sp_jdml").count() == 0)
    Engine.sql(spark, "DROP TABLE sp_jdml")
  }

  test("INSERT RETURNING appends and returns the inserted rows") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_ins_t")
    Seq((1L, "a", 10)).toDF("id", "s", "n")
      .write.format("parquet").saveAsTable("graft_ins_t")
    // VALUES form, full width, RETURNING *
    val r1 = Engine.sql(spark,
      "INSERT INTO graft_ins_t VALUES (2, 'b', 20), (3, 'c', 30) RETURNING *")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(r1.toSeq == Seq((2L, "b", 20), (3L, "c", 30)))
    assert(spark.table("graft_ins_t").count() == 3)
    // column-list form: missing column becomes typed NULL; RETURNING
    // projects dialect expressions over the completed rows
    val r2 = Engine.sql(spark,
      "INSERT INTO graft_ins_t (id, n) VALUES (4, 40) RETURNING id, s, n + 1 AS n1")
      .collect().map(r => (r.getLong(0), r.isNullAt(1), r.getInt(2)))
    assert(r2.toSeq == Seq((4L, true, 41)))
    assert(spark.table("graft_ins_t").where("id = 4").head.isNullAt(1))
    // SELECT-source form evaluates once and appends
    val r3 = Engine.sql(spark,
      "INSERT INTO graft_ins_t SELECT id + 10, upper(s), n FROM graft_ins_t WHERE id <= 2 RETURNING id")
      .orderBy("id").collect().map(_.getLong(0))
    assert(r3.toSeq == Seq(11L, 12L))
    assert(spark.table("graft_ins_t").count() == 6)
    spark.sql("DROP TABLE graft_ins_t")
  }

  test("DELETE and UPDATE RETURNING yield the removed / post-SET rows") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_ret_t")
    (1 to 6).map(i => (i.toLong, i * 10)).toDF("id", "n")
      .write.format("parquet").saveAsTable("graft_ret_t")
    val d = Engine.sql(spark,
      "DELETE FROM graft_ret_t WHERE n > 40 RETURNING id, n")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(d.toSeq == Seq((5L, 50), (6L, 60)))
    assert(spark.table("graft_ret_t").count() == 4)
    // UPDATE RETURNING returns NEW values of matched rows only
    val u = Engine.sql(spark,
      "UPDATE graft_ret_t SET n = n + 1 WHERE id <= 2 RETURNING id, n")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(u.toSeq == Seq((1L, 11), (2L, 21)))
    assert(spark.table("graft_ret_t").where("id = 3").head.getInt(1) == 30)
    spark.sql("DROP TABLE graft_ret_t")
  }

  test("RETURNING statements leave no view behind and their frames still collect") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_retv_t")
    (1 to 4).map(i => (i.toLong, i * 10)).toDF("id", "n")
      .write.format("parquet").saveAsTable("graft_retv_t")
    val frames = Seq(
      "DELETE FROM graft_retv_t WHERE n > 30 RETURNING id",
      "UPDATE graft_retv_t SET n = n + 1 WHERE id = 1 RETURNING id",
      "INSERT INTO graft_retv_t VALUES (9, 90) RETURNING id").map(Engine.sql(spark, _))
    // every statement's view is gone before any of the frames runs
    val views = spark.catalog.listTables().collect().map(_.name)
    assert(!views.exists(_.startsWith("graft_returning")), views.mkString(", "))
    assert(frames.map(_.collect().map(_.getLong(0)).toSeq) == Seq(Seq(4L), Seq(1L), Seq(9L)))
    spark.sql("DROP TABLE graft_retv_t")
  }

  test("DELETE and UPDATE rewrite managed tables atomically with DuckDB Count results") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_dml_t")
    spark.sql("DROP TABLE IF EXISTS graft_dml_t__rewriting")
    (1 to 10).map(i => (i.toLong, s"v$i", i * 10)).toDF("id", "s", "n")
      .write.format("parquet").saveAsTable("graft_dml_t")
    // DELETE with a dialect predicate; NULL/FALSE rows survive
    val d = Engine.sql(spark, "DELETE FROM graft_dml_t WHERE n > 70")
    assert(d.head.getLong(0) == 3) // 80, 90, 100
    assert(spark.table("graft_dml_t").count() == 7)
    // UPDATE with WHERE: only matched rows change, types preserved
    val u = Engine.sql(spark,
      "UPDATE graft_dml_t SET s = upper(s), n = n + 1 WHERE id <= 2")
    assert(u.head.getLong(0) == 2)
    val rows = spark.table("graft_dml_t").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(rows.take(2).toSeq == Seq((1L, "V1", 11), (2L, "V2", 21)))
    assert(rows(2) == ((3L, "v3", 30))) // unmatched row untouched
    // UPDATE without WHERE touches every row
    val u2 = Engine.sql(spark, "UPDATE graft_dml_t SET n = 0")
    assert(u2.head.getLong(0) == 7)
    assert(spark.table("graft_dml_t").agg(sum("n")).head.getLong(0) == 0)
    // DELETE without WHERE empties the table; schema survives
    val d2 = Engine.sql(spark, "DELETE FROM graft_dml_t")
    assert(d2.head.getLong(0) == 7)
    assert(spark.table("graft_dml_t").count() == 0)
    assert(spark.table("graft_dml_t").columns.toSeq == Seq("id", "s", "n"))
    // fixture views are refused
    intercept[IllegalArgumentException] {
      Engine.sql(spark, "DELETE FROM documents WHERE doc_id = 1")
    }
    spark.sql("DROP TABLE graft_dml_t")
  }

  test("COPY TO exports a query result and returns the count") {
    Engine.registerTables(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_copy").toString
    val res = Engine.sql(spark,
      s"COPY (SELECT r_regionkey, r_name FROM region) TO '$dir/regions' (FORMAT PARQUET)")
    assert(res.columns.toSeq == Seq("Count"))
    assert(res.head.getLong(0) == 5)
    assert(spark.read.parquet(s"$dir/regions").count() == 5)
    val res2 = Engine.sql(spark, s"COPY region TO '$dir/regions_csv' (FORMAT CSV, HEADER)")
    assert(res2.head.getLong(0) == 5)
    val back = spark.read.option("header", "true").csv(s"$dir/regions_csv")
    assert(back.columns.contains("r_name") && back.count() == 5)
  }

  test("COPY TO with PARTITION_BY writes a hive-partitioned layout") {
    Engine.registerTables(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_copy_part").toString
    val res = Engine.sql(spark,
      s"COPY (SELECT l_orderkey, l_returnflag FROM lineitem) TO '$dir/li' (FORMAT PARQUET, PARTITION_BY (l_returnflag))")
    assert(res.head.getLong(0) == spark.table("lineitem").count())
    val parts = new java.io.File(s"$dir/li").listFiles().map(_.getName).filter(_.startsWith("l_returnflag="))
    assert(parts.nonEmpty, "no hive-style partition dirs written")
    // downstream readers get partition pruning on the export
    val back = spark.read.parquet(s"$dir/li").filter(col("l_returnflag") === "A")
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(l_returnflag"), s"no partition pruning:\n$plan")
  }

  test("COPY TO runs exactly one job (no count-then-write double scan)") {
    Engine.registerTables(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_copy1job").toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Engine.sql(spark, s"COPY (SELECT l_orderkey FROM lineitem) TO '$dir/lo' (FORMAT PARQUET)")
      // listener events are async; give the bus a moment to drain
      val deadline = System.currentTimeMillis() + 5000
      while (jobs.get() == 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      Thread.sleep(250)
      assert(jobs.get() == 1, s"COPY TO launched ${jobs.get()} jobs, expected 1")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("read_csv_auto end-to-end: header + schema inference") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "airports.csv"),
      "code,city,elevation\nSEA,Seattle,131\nDEN,Denver,5434\n")
    val df = Engine.sql(spark,
      s"SELECT read_csv_auto.city, elevation FROM read_csv_auto('$dir/airports.csv') WHERE elevation > 1000 ORDER BY city")
    val rows = df.collect()
    assert(rows.length == 1 && rows(0).getString(0) == "Denver")
    assert(df.schema("elevation").dataType == org.apache.spark.sql.types.IntegerType)
  }

  test("read_json_auto end-to-end: NDJSON file as a table") {
    val dir = java.nio.file.Files.createTempDirectory("graft_json").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "pets.json"),
      """{"name":"rex","legs":4}
        |{"name":"tweety","legs":2}
        |""".stripMargin)
    val df = Engine.sql(spark,
      s"SELECT read_json_auto.name FROM read_json_auto('$dir/pets.json') WHERE legs = 4")
    assert(df.collect().map(_.getString(0)).toSeq == Seq("rex"))
  }

  test("COPY FROM round-trips a COPY TO export back into a table") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_copyfrom").toString
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .createOrReplaceTempView("copy_src")
    Engine.sql(spark, s"COPY (SELECT k, v FROM copy_src) TO '$dir/out' (FORMAT CSV, HEADER)")
    spark.sql("DROP TABLE IF EXISTS copy_dst")
    spark.sql("CREATE TABLE copy_dst (k BIGINT, v STRING) USING parquet")
    val res = Engine.sql(spark, s"COPY copy_dst FROM '$dir/out' (FORMAT CSV, HEADER)")
    assert(res.collect().head.getLong(0) == 3L)
    assert(spark.table("copy_dst").orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    spark.sql("DROP TABLE copy_dst")
  }

  test("text quality columns are sane") {
    Engine.registerTables(spark, sfDir)
    val q = TextAnalysis.qualityScored(spark.table("documents")).collect()
    assert(q.forall(r => r.getInt(1) > 0))            // n_tokens
    assert(q.forall(r => r.getLong(3) >= 0 && r.getLong(3) <= 10000)) // stop_bp
  }

  test("bpe token count splits letter/digit/punct runs") {
    import spark.implicits._
    val df = Seq((1L, "don't stop-me now, it's 42km!")).toDF("doc_id", "text")
    // don ' t | stop - me | now , | it ' s | 42 km | ! -> 14 tokens
    val n = df.select(TextAnalysis.bpeTokenCount(col("text"))).head.getInt(0)
    assert(n == 14, s"expected 14 bpe tokens, got $n")
  }

  test("decontamination flags exactly the docs sharing eval n-grams") {
    import spark.implicits._
    val leaked = "the quick brown fox jumps over the lazy dog near the river bank"
    val evalSet = Seq((100L, leaked)).toDF("doc_id", "text")
    val train = Seq(
      (1L, "completely unrelated text about spark catalyst optimizer internals and shuffles"),
      (2L, s"prefix words then $leaked and a suffix"),   // contains the eval doc verbatim
      (3L, "quick brown fox jumps over something else")) // < 5 shared-gram window with eval
      .toDF("doc_id", "text")
    val out = Decontamination.sharedGrams(train, evalSet, n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.contains(2L) && !out.contains(1L), s"unexpected: $out")
    // doc 3 shares the 5-gram "quick brown fox jumps over" with the eval doc
    assert(out.get(3L).contains(1L), s"unexpected: $out")
    // shared count for doc 2 = all 9 distinct 5-grams of the 13-token eval doc
    assert(out(2L) == 9L, s"unexpected: $out")
  }

  test("stratified hash sample is deterministic and honors per-stratum rates") {
    Engine.registerTables(spark, sfDir)
    val docs = spark.table("documents")
    val s1 = Sampling.stratifiedSample(docs, col("doc_id"), col("lang"),
      rates = Map("en" -> 2), defaultRate16 = 8).select("doc_id").collect().map(_.getLong(0)).toSet
    val s2 = Sampling.stratifiedSample(docs, col("doc_id"), col("lang"),
      rates = Map("en" -> 2), defaultRate16 = 8).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 == s2, "hash sample must be run-to-run identical")
    // rate 0 keeps nothing; rate 16 keeps everything
    assert(Sampling.stratifiedSample(docs, col("doc_id"), col("lang"),
      rates = Map.empty, defaultRate16 = 0).count() == 0)
    assert(Sampling.stratifiedSample(docs, col("doc_id"), col("lang"),
      rates = Map.empty, defaultRate16 = 16).count() == docs.count())
    // the en stratum is sampled at 2/16, the rest at 8/16 — check both land
    // within a generous binomial window
    val total = docs.count().toDouble
    val kept = s1.size.toDouble
    assert(kept > 0 && kept < total)
  }

  test("curate composes quality gate, language gate, and exact dedup keep-first") {
    import spark.implicits._
    val en = "the cat and the dog walk to the park in the morning and the evening is quiet"
    val de = "der hund und die katze ist nicht im park und das wetter ist nicht gut heute"
    val docs = Seq(
      (1L, en), (2L, en),     // exact duplicates -> one row, keep_id 1, dups 2
      (3L, "too short"),      // fails the quality gate
      (4L, de))               // fails the language gate
      .toDF("doc_id", "text")
    val out = TextAnalysis.curate(docs, minTokens = 10, lang = "en")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 2L)), s"unexpected curation output: ${out.toSeq}")
  }

  test("repetition signal: duplicate 2-gram fraction in basis points") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a b"),   // grams: ab,ba,ab,ba,ab -> 5 grams, 2 distinct -> 6000 bp
      (2L, "all words here differ now"), // 4 grams, all distinct -> 0 bp
      (3L, "single"))        // < 2 tokens -> dropped
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(docs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 5L, 6000L), (2L, 4L, 0L)),
      s"unexpected repetition output: ${out.toSeq}")
  }

  test("temperatureMix: sqrt-flattened quotas, hash-rank selection, quota > stratum keeps all") {
    import spark.implicits._
    // head 4 / mid 16 / tail 64 docs; sqrt weights 2:4:8 of 14
    val docs = (0 until 84).map { i =>
      val d = if (i < 4) "head" else if (i < 20) "mid" else "tail"
      (i.toLong, d, s"doc $i")
    }.toDF("doc_id", "source", "text")
    val kept = Sampling.temperatureMix(docs, totalKeep = 28)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val bySrc = kept.groupBy(_._2).view.mapValues(_.length).toMap
    // quotas: round(28*2/14)=4 (whole head), round(28*4/14)=8, round(28*8/14)=16
    assert(bySrc == Map("head" -> 4, "mid" -> 8, "tail" -> 16), s"got $bySrc")
    assert(kept.filter(_._2 == "head").map(_._1).sorted.sameElements(Array(0L, 1L, 2L, 3L)),
      "an over-budget quota must keep the whole stratum")
    // deterministic: selection is the (md5(id), id)-first k of each stratum
    val expectMid = (4 until 20).map(_.toLong)
      .sortBy(id => (java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes).map("%02x".format(_)).mkString, id))
      .take(8).toSet
    assert(kept.filter(_._2 == "mid").map(_._1).toSet == expectMid)
  }

  test("shardStats: md5-prefix shard assignment is total, deterministic, and conv-consistent") {
    Engine.registerTables(spark, sfDir)
    val docs = spark.table("documents")
    val stats = Sampling.shardStats(docs, nShards = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(stats.map(_._2).sum == docs.count(), "shards must partition the corpus")
    assert(stats.map(_._1).forall(s => s >= 0 && s < 16))
    // spot-check one doc's shard against a driver-side md5 computation
    val id0 = docs.select("doc_id").orderBy("doc_id").head.getLong(0)
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(id0.toString.getBytes).map("%02x".format(_)).mkString.take(6)
    val expected = java.lang.Long.parseLong(hex, 16) % 16
    val shardOf = Sampling.shardStats(docs.filter(col("doc_id") === id0), 16)
      .head.getLong(0)
    assert(shardOf == expected, s"doc $id0: shard $shardOf != md5-derived $expected")
  }

  test("semantic clusters: planted near-dup pairs close into (base, copy) components") {
    import spark.implicits._
    Engine.registerTables(spark, sfDir)
    val emb = spark.table("embeddings").select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") < 50)
    val planted = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        (x * (lit(1.0) + lit(0.01) * ((i + 1) % 2))).cast("float")).as("embedding"))
    val corpus = emb.unionByName(planted)
    val pairs = Dedup.embeddingPairs(corpus, minCosine = 0.99,
      planesPerBand = 6, bands = 5).select($"d1", $"d2")
    val labels = Components.connectedComponents(corpus.select($"vec_id"), pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // every planted copy must land in its base vector's component
    (0L until 50L).foreach { v =>
      assert(labels(v + 1000000L) == labels(v),
        s"copy of $v not in its base component")
      assert(labels(v) == v, s"base $v should label its own cluster")
    }
  }

  test("r8: ALTER fast paths — metadata-only ADD, coalesced chain, loud fallback") {
    Engine.sql(spark, "DROP TABLE IF EXISTS sp_alt8")
    Engine.sql(spark, "CREATE TABLE sp_alt8 AS SELECT 1 AS id UNION ALL SELECT 2")
    // constant-default ADD is metadata-only: zero table rewrites
    val c0 = Engine.swapCount.get()
    Engine.sql(spark, "ALTER TABLE sp_alt8 ADD COLUMN flag INTEGER DEFAULT 7")
    Engine.sql(spark, "ALTER TABLE sp_alt8 ADD COLUMN note VARCHAR")
    assert(Engine.swapCount.get() == c0, "constant-default ADD must not rewrite")
    assert(Engine.sql(spark, "SELECT id, flag, note FROM sp_alt8 ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.isNullAt(2))).toSeq ==
      Seq((1, 7, true), (2, 7, true)))
    // a consecutive chain through sqlScript pays at most one rewrite,
    // including cross-statement references (USING sees the renamed column)
    val c1 = Engine.swapCount.get()
    val chained = Engine.sqlScript(spark,
      "ALTER TABLE sp_alt8 RENAME flag TO prio; " +
        "ALTER TABLE sp_alt8 ALTER COLUMN note SET DATA TYPE VARCHAR USING prio || '-x'; " +
        "ALTER TABLE sp_alt8 DROP COLUMN id; " +
        "SELECT prio, note FROM sp_alt8 ORDER BY prio")
    assert(Engine.swapCount.get() - c1 == 1, "chain must coalesce to one rewrite")
    assert(chained.collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((7, "7-x"), (7, "7-x")))
    // duplicate-add still errors with DuckDB's text (fast path keeps the
    // probe-pinned error semantics)
    val e = intercept[Exception] {
      Engine.sql(spark, "ALTER TABLE sp_alt8 ADD COLUMN prio INTEGER")
    }
    assert(e.getMessage.contains("already exists"))
    // mid-chain error falls back to per-statement execution: the valid
    // prefix applies, the failing statement is loud (DuckDB's
    // statement-level partial application)
    val c2 = Engine.swapCount.get()
    intercept[Exception] {
      Engine.sqlScript(spark,
        "ALTER TABLE sp_alt8 ADD COLUMN extra INTEGER DEFAULT 1; " +
          "ALTER TABLE sp_alt8 DROP COLUMN no_such_col; " +
          "SELECT 1")
    }
    assert(spark.table("sp_alt8").schema.fieldNames.contains("extra"),
      "valid prefix of a failing chain must still apply")
    assert(Engine.swapCount.get() == c2, "fallback prefix was metadata-only")
    Engine.sql(spark, "DROP TABLE sp_alt8")
  }

  test("r8: provenance ledger balances token accounting exactly (p59)") {
    import org.apache.spark.sql.functions._
    Engine.registerTables(spark, sfDir)
    val boiler = "copyright terms of service all rights reserved " +
      "privacy policy cookie consent subscribe newsletter follow us on"
    val first16 = concat_ws(" ",
      slice(TextAnalysis.tokens(col("text")), 1, 16))
    val aug0 = spark.table("documents").select(col("doc_id"),
      when(col("doc_id") % 5 === 2, concat(lit(boiler), lit(" "), col("text")))
        .when(col("doc_id") % 7 === 3, concat(col("text"), lit(" "), first16))
        .otherwise(col("text")).as("text"))
    // plant exact duplicates so the dedup step is never vacuous at this sf
    val aug = aug0.unionByName(aug0.filter(col("doc_id") < 5)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val (kept, ledger) = Ledger.curationChain(aug, minTokens = 40, k = 16)
    val orig = aug.select(col("doc_id"),
      element_at(TextAnalysis.tokenSetHits(col("text"), Nil), 1)
        .cast("long").as("orig_tokens"))
    val keptT = kept.select(col("doc_id"), col("kept_tokens"))
    val ledT = ledger.groupBy("doc_id")
      .agg(sum("removed_tokens").as("ledgered"))
    val audit = orig
      .join(keptT, Seq("doc_id"), "left")
      .join(ledT, Seq("doc_id"), "left")
      .select(col("doc_id"), col("orig_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept"),
        coalesce(col("ledgered"), lit(0L)).as("ledgered"))
    val bad = audit.filter(col("orig_tokens") =!= col("kept") + col("ledgered"))
      .collect()
    assert(bad.isEmpty, s"token accounting broken for: ${bad.take(5).mkString(",")}")
    // every op in the chain contributed rows at this sf (never vacuous)
    val ops = ledger.groupBy("op").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(Seq("dedup_exact", "gate", "span_dedup").forall(o => ops.getOrElse(o, 0L) > 0), ops)
    // a removed doc appears in exactly ONE op's ledger (steps feed forward)
    val multi = ledger.groupBy("doc_id").count().filter(col("count") > 1).count()
    assert(multi == 0, s"$multi docs ledgered by more than one op")
  }

  test("r8: ledgered line dedup accounts removed lines and tokens") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta\nshared line here\ngamma delta"),
      (2L, "shared line here\nunique two"),
      (3L, "unique three\nshared line here")
    ).toDF("doc_id", "text")
    val (kept, ledger) = Ledger.lineDedup(docs)
    val keptMap = kept.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(keptMap(1L) == "alpha beta\nshared line here\ngamma delta")
    assert(keptMap(2L) == "unique two")
    assert(keptMap(3L) == "unique three")
    val led = ledger.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4)))
    // docs 2 and 3 each lost the shared 3-token line
    assert(led.toSet == Set((2L, "line_dedup", 1L, 3L), (3L, "line_dedup", 1L, 3L)), led.toSeq)
    // a doc that loses EVERY line is absent from kept but fully ledgered
    val docs2 = Seq(
      (1L, "alpha beta\ngamma"),
      (2L, "alpha beta\ngamma")
    ).toDF("doc_id", "text")
    val (kept2, ledger2) = Ledger.lineDedup(docs2)
    assert(kept2.collect().map(_.getLong(0)).toSeq == Seq(1L))
    val led2 = ledger2.collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
    assert(led2.toSeq == Seq((2L, 2L, 3L)), led2.toSeq)
  }

  test("r8: empty()/notEmpty() dispatch is schema-aware for array columns") {
    Engine.registerTables(spark, sfDir)
    // embedding is ARRAY<FLOAT>: empty() must route to size(), which the
    // old syntactic dispatch could not know (it raised DATATYPE_MISMATCH)
    val r = Engine.sql(spark,
      "SELECT vec_id, empty(embedding) AS e, notEmpty(embedding) AS ne " +
        "FROM embeddings ORDER BY vec_id LIMIT 3")
      .collect().map(x => (x.getBoolean(1), x.getBoolean(2))).toSeq
    assert(r.forall { case (e, ne) => !e && ne }, r)
    // string columns still route to length()
    val s = Engine.sql(spark,
      "SELECT empty(source) AS e, empty('') AS ee FROM documents LIMIT 1").head
    assert(!s.getBoolean(0) && s.getBoolean(1))
  }

  test("r8: globalIndex assigns the exact total order across many partitions") {
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 1000).toDF("v").repartition(13)
    val idx = Partitioning.globalIndex(df, Seq(col("v").desc), "pos")
    // the point of the operator: NO unpartitioned window anywhere (AQE
    // may still coalesce tiny fixtures to one partition — that's runtime
    // sizing, not a structural one-task plan)
    assert(!idx.queryExecution.executedPlan.toString.contains("Window"))
    val rows = idx.collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    (0L until 1000L).foreach { v =>
      assert(rows(1000L - v) == v, s"pos ${1000L - v} should be v=$v")
    }
    // positionalJoin pads the shorter side with NULLs
    import spark.implicits._
    val l = Seq(10L, 20L, 30L).toDF("a")
    val r = Seq(1L).toDF("b")
    val j = Partitioning.positionalJoin(l, Seq(col("a")), r, Seq(col("b")))
      .orderBy("pos").collect()
      .map(x => (x.getLong(0), x.getLong(1), if (x.isNullAt(2)) -1L else x.getLong(2)))
    assert(j.toSeq == Seq((1L, 10L, 1L), (2L, 20L, -1L), (3L, 30L, -1L)), j.toSeq)
  }

  test("r8: UPDATE FROM multi-match picks the first source row in scan order") {
    // probe-pinned on DuckDB 1.0: several matching source rows do NOT
    // error — the first in scan order wins (VALUES order here; probed
    // {(1,200),(1,100)} → 200 and range(5) → 0)
    Engine.sql(spark, "DROP TABLE IF EXISTS sp_um_t")
    Engine.sql(spark, "DROP TABLE IF EXISTS sp_um_s")
    Engine.sql(spark, "CREATE TABLE sp_um_t AS SELECT * FROM (VALUES (1, 0), (2, 0)) t(id, v)")
    Engine.sql(spark,
      "CREATE TABLE sp_um_s AS SELECT * FROM (VALUES (1, 200), (1, 100), (2, 300)) s(id, w)")
    Engine.sql(spark,
      "UPDATE sp_um_t SET v = s.w FROM sp_um_s s WHERE sp_um_t.id = s.id")
    val got = spark.table("sp_um_t").orderBy("id").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(got == Seq((1, 200), (2, 300)), got)
    Engine.sql(spark, "DROP TABLE sp_um_t")
    Engine.sql(spark, "DROP TABLE sp_um_s")
  }

  test("r8 advice: stale view drops loudly after incompatible ALTER") {
    import spark.implicits._
    Engine.sql(spark, "DROP TABLE IF EXISTS sp_vstale")
    Engine.sql(spark, "CREATE TABLE sp_vstale AS SELECT 1 AS a, 2 AS b")
    Engine.sql(spark, "CREATE VIEW sp_vstale_v AS SELECT b FROM sp_vstale")
    assert(Engine.sql(spark, "SELECT * FROM sp_vstale_v").head.getInt(0) == 2)
    // dropping the column the view body references must NOT leave a stale
    // pinned plan serving old data — the next reference fails loudly
    Engine.sql(spark, "ALTER TABLE sp_vstale DROP COLUMN b")
    intercept[Exception] {
      Engine.sql(spark, "SELECT * FROM sp_vstale_v").collect()
    }
    Engine.sql(spark, "DROP VIEW IF EXISTS sp_vstale_v")
    Engine.sql(spark, "DROP TABLE sp_vstale")
  }

  test("views over read_csv_auto re-resolve after a data change without re-entering the refresh") {
    // each body's read_csv_auto registers a file view and bumps the
    // catalog version while the refresh runs; the session's claim on the
    // refresh keeps those nested statements from starting another one
    val dir = java.nio.file.Files.createTempDirectory("graft_view_csv")
    val csv = dir.resolve("x.csv")
    java.nio.file.Files.write(csv, "a\n1\n2\n3\n".getBytes("UTF-8"))
    try {
      Seq("sp_csv_a", "sp_csv_b").foreach(v =>
        Engine.sql(spark, s"CREATE OR REPLACE VIEW $v AS SELECT * FROM read_csv_auto('$csv')"))
      Engine.bumpDataVersion()
      // a refresh that re-entered itself would not return
      val sums = scala.concurrent.Future(Seq("sp_csv_a", "sp_csv_b").map(v =>
        Engine.sql(spark, s"SELECT sum(a) FROM $v").head.getLong(0)))(
        scala.concurrent.ExecutionContext.global)
      assert(scala.concurrent.Await.result(sums,
        scala.concurrent.duration.Duration(2, "min")) == Seq(6L, 6L))
      // re-registering the same file views leaves the catalog version
      // alone, so another session keeps its snapshot
      val other = spark.newSession()
      val snap = Engine.infoSnapshot(other)
      (1 to 3).foreach(_ => Engine.sql(spark, "SELECT 1").collect())
      assert(Engine.infoSnapshot(other) eq snap)
    } finally {
      Seq("sp_csv_a", "sp_csv_b").foreach(v => Engine.sql(spark, s"DROP VIEW IF EXISTS $v"))
      new scala.reflect.io.Directory(dir.toFile).deleteRecursively()
    }
  }

  test("r8 advice: pragma/catalog-fn splices skip string literals") {
    Engine.registerTables(spark, sfDir)
    // an occurrence inside a literal is DATA — not executed, not replaced
    val r = Engine.sql(spark,
      "SELECT 'use pragma_table_info(''t'') or duckdb_tables() wisely' AS s")
      .head.getString(0)
    assert(r == "use pragma_table_info('t') or duckdb_tables() wisely")
    // while a real occurrence in the same statement still splices
    val mixed = Engine.sql(spark,
      "SELECT 'duckdb_tables() is a fn' AS s, count(*) AS c FROM duckdb_tables()")
      .head
    assert(mixed.getString(0) == "duckdb_tables() is a fn" && mixed.getLong(1) >= 1)
    // a quote inside a comment opens no literal: every splice still fires
    def same(plain: String, withComment: String): Unit = {
      val want = Engine.sql(spark, plain).collect().toSeq
      assert(want.nonEmpty && Engine.sql(spark, withComment).collect().toSeq == want, withComment)
    }
    same("SELECT count(*) FROM duckdb_tables()",
      "SELECT /* it's */ count(*) FROM duckdb_tables()")
    same("SELECT name FROM pragma_table_info('orders')",
      "SELECT /* it's */ name FROM pragma_table_info('orders')")
    same("SELECT column_name FROM (SUMMARIZE SELECT o_orderkey FROM orders)",
      "SELECT column_name FROM (SUMMARIZE SELECT o_orderkey -- it's\n FROM orders)")
  }

  test("engine routes match from the first significant token, through comments") {
    import spark.implicits._
    Engine.registerTables(spark, sfDir)
    val copyDir = java.nio.file.Files.createTempDirectory("sp_cmt_copy").toString + "/out"
    // a leading line comment, and a block comment holding a quote, a
    // comma, parens and a `?` after the first keyword
    def commented(sql: String): String = {
      val k = sql.indexOf(' ')
      s"-- c\n${sql.take(k)} /* it's, (a?) */${sql.drop(k)}"
    }
    def fresh(): Unit = {
      Seq("sp_cmt_t", "sp_cmt_s").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      Seq((1L, 10L), (2L, 20L)).toDF("id", "v").write.format("parquet").saveAsTable("sp_cmt_t")
      Seq((1L, 11L)).toDF("id", "v").write.format("parquet").saveAsTable("sp_cmt_s")
    }
    def rows(sql: String): Seq[String] = Engine.sql(spark, sql).collect().map(_.toString).toSeq
    def table(): Seq[String] =
      spark.table("sp_cmt_t").orderBy("id").collect().map(_.toString).toSeq
    val scripts = Seq(
      Seq("DELETE FROM sp_cmt_t WHERE id = 2"),
      Seq("UPDATE sp_cmt_t SET v = 11 WHERE id = 1"),
      Seq("UPDATE sp_cmt_t SET v = sp_cmt_s.v + 1 FROM sp_cmt_s WHERE sp_cmt_t.id = sp_cmt_s.id"),
      Seq("DELETE FROM sp_cmt_t USING sp_cmt_s WHERE sp_cmt_t.id = sp_cmt_s.id"),
      Seq("INSERT INTO sp_cmt_t VALUES (3, 30) RETURNING id, v"),
      Seq("PREPARE sp_cmt_p AS SELECT 41 + ? AS y", "EXECUTE sp_cmt_p(1)",
        "DEALLOCATE sp_cmt_p"),
      Seq("SUMMARIZE sp_cmt_t"),
      Seq("CREATE VIEW sp_cmt_v AS SELECT id FROM sp_cmt_t", "SELECT * FROM sp_cmt_v",
        "DROP VIEW sp_cmt_v"),
      Seq("CREATE MACRO sp_cmt_m(x) AS x + 1", "SELECT sp_cmt_m(v) FROM sp_cmt_t ORDER BY 1",
        "DROP MACRO sp_cmt_m"),
      Seq(s"COPY sp_cmt_t TO '$copyDir' (FORMAT PARQUET)"),
      Seq("ALTER TABLE sp_cmt_t ADD COLUMN w INTEGER DEFAULT 5"))
    val plain = scripts.map { script => fresh(); script.map(rows) :+ table() }
    scripts.zip(plain).foreach { case (script, want) =>
      fresh()
      assert(script.map(s => rows(commented(s))) :+ table() == want, commented(script.head))
    }
    // the plain runs themselves: DuckDB's results
    assert(plain.take(4).map(_.head) == Seq.fill(4)(Seq("[1]")))
    assert(plain.take(4).map(_.last) == Seq(Seq("[1,10]"), Seq("[1,11]", "[2,20]"),
      Seq("[1,12]", "[2,20]"), Seq("[2,20]")))
    assert(plain(5)(1) == Seq("[42]"))
    assert(plain(6).head.length == 2 && plain(6).head.head.split(",").length == 12)
    Seq("sp_cmt_t", "sp_cmt_s").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("r8 advice: current_setting runtime path unquotes like plan-time") {
    Engine.registerTables(spark, sfDir)
    Engine.sql(spark, "SET sp_quoted_setting = '2GB'")
    // literal key → plan-time branch
    val planTime = Engine.sql(spark,
      "SELECT current_setting('sp_quoted_setting') AS v").head.getString(0)
    // non-foldable key → runtime CurrentSetting.read branch
    val runTime = Engine.sql(spark,
      "SELECT current_setting(concat('sp_quoted', '_setting')) AS v")
      .head.getString(0)
    assert(planTime == "2GB", planTime)
    assert(runTime == planTime, s"runtime '$runTime' != plan-time '$planTime'")
  }

  test("r9: trained IVF centroids — deterministic rebuild, recall not below hash-sample init") {
    import org.apache.spark.sql.expressions.Window
    Engine.registerTables(spark, sfDir)
    val emb = spark.table("embeddings").select(col("vec_id"), col("embedding"))
    // planted corpus (the p21 audit shape): 30 graded near-copies of each
    // of 5 probe vectors — clusters the trained centroids should follow
    val planted = emb.filter(col("vec_id") < 5)
      .select(col("vec_id"), explode(sequence(lit(1), lit(30))).as("j"), col("embedding"))
      .select((lit(1000000L) + col("vec_id") * 100 + col("j")).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x * (lit(1.0) + lit(0.0005) * col("j") * ((i + 1) % 2))).cast("float"))
          .as("embedding"))
    val corpus = emb.filter(col("vec_id") >= 10).unionByName(planted)
      .localCheckpoint()
    Seq("sp_ivf_a", "sp_ivf_b", "sp_ivf_raw").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    Similarity.buildIvfIndex(corpus, "sp_ivf_a", nCentroids = 16, numBuckets = 8)
    Similarity.buildIvfIndex(corpus, "sp_ivf_b", nCentroids = 16, numBuckets = 8)
    // rebuild determinism: byte-identical centroid tables
    val ca = spark.table("sp_ivf_a_centroids").orderBy("cid").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
    val cb = spark.table("sp_ivf_b_centroids").orderBy("cid").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
    assert(ca.sameElements(cb), "rebuild produced different centroids")
    // recall@20 at nprobe=4: trained vs raw hash-sample init (trainIters=0)
    Similarity.buildIvfIndex(corpus, "sp_ivf_raw", nCentroids = 16,
      numBuckets = 8, trainIters = 0)
    val probes = emb.filter(col("vec_id") < 5).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("vec_id"))
    import spark.implicits._
    val probesDf = broadcast(probes.toSeq.map { case (id, v) => (id, v.toSeq) }
      .toDF("qid", "qv"))
    val exact = corpus.crossJoin(probesDf)
      .select(col("qid"), col("vec_id"),
        graft.functions.GraftFunctions.cosine_sim(col("embedding"), col("qv")).as("cosine"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 20)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    def recall(idx: String, nprobe: Int): Double = probes.map { case (qid, qv) =>
      val found = Similarity.ivfTopKIndexed(spark, idx, qv, 20, nprobe = nprobe)
        .collect().map(_.getLong(0)).toSet
      exact(qid).count(found.contains).toDouble / exact(qid).size
    }.sum / probes.length
    val (rTrained, rRaw) = (recall("sp_ivf_a", 4), recall("sp_ivf_raw", 4))
    val (rT1, rR1) = (recall("sp_ivf_a", 1), recall("sp_ivf_raw", 1))
    info(f"recall@nprobe4 trained=$rTrained%.3f raw=$rRaw%.3f; @nprobe1 trained=$rT1%.3f raw=$rR1%.3f")
    assert(rTrained >= 0.9, s"trained recall $rTrained below audit floor")
    assert(rTrained >= rRaw - 1e-9,
      s"training regressed recall: $rTrained < $rRaw")
    // the training margin shows at the tightest probe budget (measured on
    // this fixture: 1.000 trained vs 0.890 raw at nprobe=1 — trained
    // centroids follow the planted clusters, the raw sample need not)
    assert(rT1 >= rR1 - 1e-9,
      s"training regressed recall at nprobe=1: $rT1 < $rR1")
    // auto-sizing follows sqrt(n) within clamps
    assert(Similarity.centroidsFor(100) == 10 &&
      Similarity.centroidsFor(1) == 4 &&
      Similarity.centroidsFor(100000000L) == 4096)
    Seq("sp_ivf_a", "sp_ivf_b", "sp_ivf_raw").foreach { t =>
      spark.sql(s"DROP TABLE $t"); spark.sql(s"DROP TABLE ${t}_centroids")
    }
  }

  test("r10: single-kernel centroid assignment is byte-identical to the k-column argmax") {
    // VERDICT r9 #6: buildIvfIndex now assigns via ONE centroid_argmax
    // kernel over a broadcast flat matrix. Prove it reproduces the old
    // coalesce(cosine_sim(vec, typedLit(c)), -2.0) + array_position(
    // array_max) formula exactly, per row, on the real fixture.
    Engine.registerTables(spark, sfDir)
    val emb = spark.table("embeddings").select(col("vec_id"), col("embedding"))
    spark.sql("DROP TABLE IF EXISTS sp_ivf_k")
    spark.sql("DROP TABLE IF EXISTS sp_ivf_k_centroids")
    Similarity.buildIvfIndex(emb, "sp_ivf_k", nCentroids = 16, numBuckets = 8)
    val cents = spark.table("sp_ivf_k_centroids").orderBy("cid").collect()
      .map(r => r.getSeq[Float](1))
    val simCols = cents.map(v =>
      coalesce(graft.functions.GraftFunctions.cosine_sim(
        col("embedding"), typedLit(v)), lit(-2.0d)))
    val sims = array(simCols.toIndexedSeq: _*)
    val oldForm = emb.withColumn("cid_old",
      (array_position(sims, array_max(sims)) - 1).cast("int"))
    val joined = spark.table("sp_ivf_k").select(col("vec_id"), col("cid"))
      .join(oldForm.select(col("vec_id"), col("cid_old")), "vec_id")
    val mismatches = joined.filter(col("cid") =!= col("cid_old")).count()
    assert(mismatches == 0L, s"$mismatches kernel-vs-argmax assignment mismatches")
    assert(joined.count() == emb.count())
    spark.sql("DROP TABLE sp_ivf_k"); spark.sql("DROP TABLE sp_ivf_k_centroids")
  }

  test("r9: incremental minhash/embedding dedup emit exactly the cross pairs") {
    Engine.registerTables(spark, sfDir)
    val docs = spark.table("documents")
    val oldDocs = docs.filter(col("doc_id") % 3 =!= 0)
    val newDocs = docs.filter(col("doc_id") % 3 === 0)
    spark.sql("DROP TABLE IF EXISTS sp_mh_idx")
    Dedup.buildMinhashIndex(oldDocs, "sp_mh_idx")
    val inc = Dedup.minhashPairsIncremental(newDocs, "sp_mh_idx", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every emitted pair is cross: d1 from the increment, d2 from the index
    assert(inc.forall { case (d1, d2) => d1 % 3 == 0 && d2 % 3 != 0 }, inc)
    // full-corpus pairs restricted to the cross set = the incremental set
    // (fixture pairs all sit far above the banding miss floor — p03's
    // argument)
    val full = Dedup.minhashPairs(docs, threshold = 0.5)
      .collect().flatMap { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        if (a % 3 == 0 && b % 3 != 0) Some((a, b))
        else if (b % 3 == 0 && a % 3 != 0) Some((b, a))
        else None
      }.toSet
    assert(inc == full, s"missing=${full.diff(inc)} extra=${inc.diff(full)}")
    spark.sql("DROP TABLE sp_mh_idx")

    val emb = spark.table("embeddings").select(col("vec_id"), col("embedding"))
    val planted = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        (x * (lit(1.0) + lit(0.01) * ((i + 1) % 2))).cast("float"))
        .as("embedding"))
    spark.sql("DROP TABLE IF EXISTS sp_emb_idx")
    Dedup.buildEmbeddingIndex(emb, "sp_emb_idx", planesPerBand = 8, bands = 5)
    val pairs = Dedup.embeddingPairsIncremental(planted, "sp_emb_idx",
        minCosine = 0.99, planesPerBand = 8, bands = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exactly one (copy, original) pair per vector — the planted design
    val expected = emb.select("vec_id").collect()
      .map(_.getLong(0)).map(i => (i + 1000000L, i)).toSet
    assert(pairs == expected,
      s"missing=${expected.diff(pairs).take(5)} extra=${pairs.diff(expected).take(5)}")
    spark.sql("DROP TABLE sp_emb_idx")
  }

  test("r13: occupancy-triggered index maintenance re-bands from stored state only") {
    Engine.registerTables(spark, sfDir)
    val emb = spark.table("embeddings").select(col("vec_id"), col("embedding"))
    val planted = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        (x * (lit(1.0) + lit(0.01) * ((i + 1) % 2))).cast("float"))
        .as("embedding"))
    spark.sql("DROP TABLE IF EXISTS sp_maint_idx")
    spark.sql("DROP TABLE IF EXISTS sp_maint_idx_bands")
    spark.sql("DROP TABLE IF EXISTS sp_maint_idx_meta")
    // deliberately STALE geometry: 4 planes per band for this corpus
    Dedup.buildEmbeddingIndex(emb, "sp_maint_idx", planesPerBand = 4, bands = 5)
    // meta persisted by the build
    assert(spark.table("sp_maint_idx_meta").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("planes_per_band" -> 4L, "bands" -> 5L))
    val before = Dedup.embeddingPairsIncremental(planted, "sp_maint_idx",
        minCosine = 0.99, planesPerBand = 4, bands = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // no-trigger path: occupancy below the (huge) threshold → untouched
    val calm = Dedup.maintainEmbeddingIndex(spark, "sp_maint_idx", bands = 5,
      targetBucket = 32, occupancyFactor = 1e9)
    assert(!calm.rebuilt && calm.currentGeometry == 4 &&
      calm.items == emb.count() && calm.buckets > 0 && calm.p95Occupancy > 0)
    // trigger path: factor 0 forces the rebuild at the sizing rule's p
    val h = Dedup.maintainEmbeddingIndex(spark, "sp_maint_idx", bands = 5,
      targetBucket = 1, occupancyFactor = 0.0)
    assert(h.rebuilt && h.targetGeometry > 4, h)
    assert(spark.table("sp_maint_idx_meta").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
      .apply("planes_per_band") == h.targetGeometry.toLong)
    // occupancy actually dropped: wider bands → more, smaller buckets
    val (b2, p95b, _) = {
      val occ = spark.table("sp_maint_idx_bands")
        .groupBy("band_id", "band_bits").count()
        .agg(count(lit(1)), expr("percentile_approx(count, 0.95, 10000)"), max("count"))
        .head()
      (occ.getLong(0), occ.getAs[Number](1).doubleValue(), occ.getLong(2))
    }
    assert(b2 > calm.buckets, s"buckets $b2 !> ${calm.buckets}")
    assert(p95b < calm.p95Occupancy, s"p95 $p95b !< ${calm.p95Occupancy}")
    // the pair CONTRACT is preserved across the re-band (duplicate-grade
    // planted copies: recall 1.0 at both geometries)
    val after = Dedup.embeddingPairsIncremental(planted, "sp_maint_idx",
        minCosine = 0.99, planesPerBand = h.targetGeometry, bands = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == before,
      s"missing=${before.diff(after).take(5)} extra=${after.diff(before).take(5)}")
    // r14 (r13 ADVICE low #4): the band table embeds its own geometry,
    // so a caller still passing the BUILD-time args after maintenance
    // re-banded gets full recall — probe geometry is derived from the
    // stored table, not trusted from the args
    val staleArgs = Dedup.embeddingPairsIncremental(planted, "sp_maint_idx",
        minCosine = 0.99, planesPerBand = 4, bands = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(staleArgs == before,
      s"stale-arg probe lost recall: missing=${before.diff(staleArgs).take(5)}")
    // idempotent: second call sees the new geometry and no-ops
    val again = Dedup.maintainEmbeddingIndex(spark, "sp_maint_idx", bands = 5,
      targetBucket = 1, occupancyFactor = 0.0)
    assert(!again.rebuilt && again.currentGeometry == h.targetGeometry)
    spark.sql("DROP TABLE sp_maint_idx")
    spark.sql("DROP TABLE sp_maint_idx_bands")
    spark.sql("DROP TABLE sp_maint_idx_meta")

    // r14 IVF member of the family: occupancy-triggered re-cluster from
    // stored vectors; generation stamps keep the (centroids, assignments)
    // pair consistent across the rebuild
    locally {
      val emb = spark.table("embeddings").select(col("vec_id"), col("embedding"))
      Seq("sp_maint_ivf", "sp_maint_ivf_centroids")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      // deliberately STALE: 4 centroids where the sizing rule wants √n
      Similarity.buildIvfIndex(emb, "sp_maint_ivf", nCentroids = 4, numBuckets = 8)
      val calmIvf = Similarity.maintainIvfIndex(spark, "sp_maint_ivf",
        targetBucket = 32, occupancyFactor = 1e9)
      assert(!calmIvf.rebuilt && calmIvf.currentGeometry == 4 &&
        calmIvf.items == emb.count() && calmIvf.buckets > 0)
      val hv = Similarity.maintainIvfIndex(spark, "sp_maint_ivf",
        targetBucket = 1, occupancyFactor = 0.0)
      assert(hv.rebuilt && hv.targetGeometry > 4, hv)
      // generation advanced consistently on BOTH tables; the centroid
      // table is APPEND-ONLY (r15, ADVICE r14 #4) — the old generation
      // stays behind as reader-filtered dead weight, never overwritten
      assert(spark.table("sp_maint_ivf").select(col("gen")).head.getInt(0) == 1)
      val centGens = spark.table("sp_maint_ivf_centroids")
        .select(col("gen")).distinct().collect().map(_.getInt(0)).toSet
      assert(centGens == Set(0, 1), centGens)
      assert(spark.table("sp_maint_ivf_centroids")
        .filter(col("gen") === 1).count() == hv.targetGeometry)
      // occupancy dropped: more centroids → smaller buckets
      val p95b = spark.table("sp_maint_ivf").groupBy("cid").count()
        .agg(expr("percentile_approx(count, 0.95, 10000)")).head
        .getAs[Number](0).doubleValue()
      assert(p95b < calmIvf.p95Occupancy, s"$p95b !< ${calmIvf.p95Occupancy}")
      // query path stays exact-at-the-top: the nearest vector to any
      // probe is itself, found through the maintained index
      val qv = emb.filter(col("vec_id") === 3L).head.getSeq[Float](1).toArray
      val top = Similarity.ivfTopKIndexed(spark, "sp_maint_ivf", qv, 1)
        .head.getLong(0)
      assert(top == 3L, s"self-lookup through maintained IVF: $top")
      // idempotent: second call sees the new geometry and no-ops
      val againIvf = Similarity.maintainIvfIndex(spark, "sp_maint_ivf",
        targetBucket = 1, occupancyFactor = 0.0)
      assert(!againIvf.rebuilt && againIvf.currentGeometry == hv.targetGeometry)
      Seq("sp_maint_ivf", "sp_maint_ivf_centroids")
        .foreach(t => spark.sql(s"DROP TABLE $t"))
    }

    // minhash twin: re-band (64,16) → (128,16) from the stored hash sets
    val docs = spark.table("documents")
    spark.sql("DROP TABLE IF EXISTS sp_maint_mh")
    spark.sql("DROP TABLE IF EXISTS sp_maint_mh_bands")
    spark.sql("DROP TABLE IF EXISTS sp_maint_mh_meta")
    Dedup.buildMinhashIndex(docs.filter(col("doc_id") % 3 =!= 0), "sp_maint_mh")
    val mhBefore = Dedup.minhashPairsIncremental(
        docs.filter(col("doc_id") % 3 === 0), "sp_maint_mh", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.maintainMinhashIndex(spark, "sp_maint_mh",
      numHashes = 128, bands = 16, targetBucket = 1, occupancyFactor = 0.0)
    assert(mh.rebuilt && mh.currentGeometry == 4 && mh.targetGeometry == 8, mh)
    val mhAfter = Dedup.minhashPairsIncremental(
        docs.filter(col("doc_id") % 3 === 0), "sp_maint_mh", threshold = 0.5,
        numHashes = 128, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mhAfter == mhBefore,
      s"missing=${mhBefore.diff(mhAfter).take(5)} extra=${mhAfter.diff(mhBefore).take(5)}")
    // r14: stale build-time args (default 64/16) after the re-band —
    // the band table's embedded geometry must win
    val mhStale = Dedup.minhashPairsIncremental(
        docs.filter(col("doc_id") % 3 === 0), "sp_maint_mh", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mhStale == mhBefore,
      s"stale-arg probe lost recall: missing=${mhBefore.diff(mhStale).take(5)}")
    spark.sql("DROP TABLE sp_maint_mh")
    spark.sql("DROP TABLE sp_maint_mh_bands")
    spark.sql("DROP TABLE sp_maint_mh_meta")
  }

  test("r9: copy-on-write DML rewrites only the files holding matched rows") {
    Engine.registerTables(spark, sfDir)
    spark.sql("DROP TABLE IF EXISTS g_cow_t")
    spark.sql("DROP TABLE IF EXISTS g_cow_t__rewriting")
    // 8 parquet files via round-robin repartition: a selective predicate
    // touches a strict subset of them
    spark.sql("SELECT o_orderkey AS id, o_totalprice AS price, " +
        "o_orderpriority AS pri FROM orders WHERE o_orderkey < 2000")
      .repartition(8).write.format("parquet").saveAsTable("g_cow_t")
    val files0 = spark.table("g_cow_t").inputFiles.length
    assert(files0 >= 4, s"fixture too small for a COW test: $files0 files")
    val before = spark.table("g_cow_t").count()
    val sumBefore = spark.table("g_cow_t").agg(sum("id")).head.getLong(0)

    // selective UPDATE: one matched row ⇒ at most a couple of files rewritten
    val u = Engine.sql(spark, "UPDATE g_cow_t SET price = 0 WHERE id = 1")
    assert(u.head.getLong(0) == 1L)
    val (tot, aff, linked) = Engine.lastCowStats.get()
    assert(tot == files0 && aff < tot && linked >= 1,
      s"UPDATE did not COW: total=$tot affected=$aff linked=$linked")
    assert(spark.table("g_cow_t").count() == before)
    assert(spark.table("g_cow_t").agg(sum("id")).head.getLong(0) == sumBefore)
    assert(Engine.sql(spark, "SELECT price FROM g_cow_t WHERE id = 1")
      .head.getDouble(0) == 0.0)

    // no-match UPDATE: zero files rewritten, zero swaps — pure metadata
    val swaps = Engine.swapCount.get()
    val u0 = Engine.sql(spark, "UPDATE g_cow_t SET price = -1 WHERE id = -5")
    assert(u0.head.getLong(0) == 0L)
    assert(Engine.swapCount.get() == swaps, "no-match UPDATE paid a rewrite")
    assert(Engine.sql(spark,
      "SELECT count(*) AS c FROM g_cow_t WHERE price = -1").head.getLong(0) == 0L)

    // selective DELETE: survivors of affected files rewritten, rest linked
    val d = Engine.sql(spark, "DELETE FROM g_cow_t WHERE id = 2")
    assert(d.head.getLong(0) == 1L)
    val (t2, a2, l2) = Engine.lastCowStats.get()
    assert(a2 < t2 && l2 >= 1, s"DELETE did not COW: total=$t2 affected=$a2 linked=$l2")
    assert(spark.table("g_cow_t").count() == before - 1)
    assert(spark.table("g_cow_t").agg(sum("id")).head.getLong(0) == sumBefore - 2)

    // joined forms take the same path: UPDATE … FROM and DELETE … USING
    val uf = Engine.sql(spark,
      "UPDATE g_cow_t SET price = s.o_totalprice * 3 FROM orders s " +
        "WHERE g_cow_t.id = s.o_orderkey AND s.o_orderkey = 7")
    assert(uf.head.getLong(0) == 1L)
    val (t3, a3, l3) = Engine.lastCowStats.get()
    assert(a3 < t3 && l3 >= 1, s"UPDATE FROM did not COW: $t3/$a3/$l3")
    val expect7 = Engine.sql(spark,
      "SELECT o_totalprice * 3 FROM orders WHERE o_orderkey = 7").head.getDouble(0)
    assert(Engine.sql(spark, "SELECT price FROM g_cow_t WHERE id = 7")
      .head.getDouble(0) == expect7)
    val du = Engine.sql(spark,
      "DELETE FROM g_cow_t USING orders s " +
        "WHERE g_cow_t.id = s.o_orderkey AND s.o_orderkey = 3")
    assert(du.head.getLong(0) == 1L)
    val (t4, a4, l4) = Engine.lastCowStats.get()
    assert(a4 < t4 && l4 >= 1, s"DELETE USING did not COW: $t4/$a4/$l4")
    assert(spark.table("g_cow_t").count() == before - 2)

    // RETURNING still sees exactly the matched rows through the pruned path
    val ur = Engine.sql(spark,
      "UPDATE g_cow_t SET price = 1.5 WHERE id IN (10, 11) RETURNING id, price")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(ur.toSeq == Seq((10L, 1.5), (11L, 1.5)))
    assert(Engine.lastCowPrune.get() == "literal",
      s"selective DML should use the literal prune, got ${Engine.lastCowPrune.get()}")

    // every form runs one driver, so the edge cases agree across forms.
    // a WHERE naming a missing column fails at analysis, before any job
    val missingJobs = jobsOf(intercept[Exception](
      Engine.sql(spark, "DELETE FROM g_cow_t WHERE no_such_col = 1")))
    assert(missingJobs == 0, s"missing-column DELETE ran $missingJobs jobs")
    // a table with no data files: Count 0 and no swap, for DELETE and UPDATE
    spark.sql("DROP TABLE IF EXISTS g_cow_empty")
    spark.sql("CREATE TABLE g_cow_empty (id BIGINT, price DOUBLE) USING parquet")
    val swapsEmpty = Engine.swapCount.get()
    assert(Engine.sql(spark, "DELETE FROM g_cow_empty WHERE id = 1").head.getLong(0) == 0L)
    assert(Engine.sql(spark,
      "UPDATE g_cow_empty SET price = 0 WHERE id = 1").head.getLong(0) == 0L)
    assert(Engine.swapCount.get() == swapsEmpty, "zero-file DML paid a swap")
    spark.sql("DROP TABLE g_cow_empty")
    // a DELETE matching rows in every file rewrites them all and says so
    val nFiles = spark.table("g_cow_t").inputFiles.length
    val perFile = spark.table("g_cow_t").where("id % 5 = 0")
      .groupBy(col("_metadata.file_path")).count().count()
    assert(perFile == nFiles, s"fixture: id % 5 = 0 hits $perFile of $nFiles files")
    val left = spark.table("g_cow_t").where("id % 5 <> 0").count()
    Engine.sql(spark, "DELETE FROM g_cow_t WHERE id % 5 = 0")
    assert(Engine.lastCowStats.get() == ((nFiles, nFiles, 0)),
      s"every-file DELETE stats: ${Engine.lastCowStats.get()}")
    assert(spark.table("g_cow_t").count() == left)
    spark.sql("DROP TABLE g_cow_t")
  }

  /** Spark jobs `stmt` starts, counted once the listener bus drains. */
  private def jobsOf(stmt: => Any): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { stmt; org.apache.spark.GraftListenerBus.drain(spark.sparkContext); jobs.get() }
    finally spark.sparkContext.removeSparkListener(listener)
  }

  test("DELETE … USING … RETURNING reads its matched checkpoint: no more jobs than UPDATE … FROM") {
    spark.sql("DROP TABLE IF EXISTS g_jobs_s")
    // one source file; ids 5 and 6 match twice each
    spark.range(0, 1000).selectExpr("id AS sid", "id % 7 AS k")
      .union(spark.range(5, 7).selectExpr("id AS sid", "-1 AS k"))
      .coalesce(1).write.format("parquet").saveAsTable("g_jobs_s")
    // a fresh 4-file 1000-row target per statement
    def fresh(): Unit = {
      spark.sql("DROP TABLE IF EXISTS g_jobs_t")
      spark.range(0, 1000).selectExpr("id", "id * 2 AS v").repartition(4)
        .write.format("parquet").saveAsTable("g_jobs_t")
    }
    def run(stmt: String): (Int, Seq[String]) = {
      fresh()
      var out = Seq.empty[String]
      val jobs = jobsOf { out = Engine.sql(spark, stmt).collect().map(_.mkString(",")).toSeq.sorted }
      (jobs, out)
    }
    val using = "g_jobs_s s WHERE g_jobs_t.id = s.sid AND s.sid IN (5, 6, 900)"
    val (updJobs, upd) = run(s"UPDATE g_jobs_t SET v = -1 FROM $using RETURNING id, v")
    assert(upd == Seq("5,-1", "6,-1", "900,-1"))
    val (delRetJobs, delRet) = run(s"DELETE FROM g_jobs_t USING $using RETURNING id, v")
    // each removed row once, however many source rows match it
    assert(delRet == Seq("5,10", "6,12", "900,1800"))
    assert(spark.table("g_jobs_t").count() == 997)
    val (delJobs, del) = run(s"DELETE FROM g_jobs_t USING $using")
    assert(del == Seq("3"))
    assert(spark.table("g_jobs_t").where("id IN (5, 6, 900)").count() == 0)
    info(s"jobs: UPDATE … FROM … RETURNING $updJobs, " +
      s"DELETE … USING … RETURNING $delRetJobs, DELETE … USING $delJobs")
    assert(delRetJobs <= updJobs,
      s"DELETE USING RETURNING ran $delRetJobs jobs, UPDATE FROM RETURNING $updJobs")
    assert(delJobs <= 8, s"DELETE USING ran $delJobs jobs")
    spark.sql("DROP TABLE g_jobs_t")
    spark.sql("DROP TABLE g_jobs_s")
  }

  test("COW DML holds the table's write lock from its file listing to its swap") {
    spark.sql("DROP TABLE IF EXISTS g_cow_lock")
    spark.range(0, 100).selectExpr("id", "id * 2 AS v").repartition(4)
      .write.format("parquet").saveAsTable("g_cow_lock")
    // only the DELETE thread's jobs count: it runs under its own job group
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.jobGroup.id") == "g_cow_lock") jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val held = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() => Engine.tableWriteLock("g_cow_lock").synchronized {
      held.countDown(); release.await()
    })
    val deleted = new java.util.concurrent.CompletableFuture[java.lang.Long]()
    val dml = new Thread(() => {
      spark.sparkContext.setJobGroup("g_cow_lock", "lock-scope DELETE")
      try deleted.complete(Engine.sql(spark, "DELETE FROM g_cow_lock WHERE id < 10").head.getLong(0))
      catch { case e: Throwable => deleted.completeExceptionally(e) }
    })
    try {
      holder.start()
      held.await()
      dml.start()
      Thread.sleep(1000)
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      assert(jobs.get() == 0, s"DELETE started ${jobs.get()} jobs while the table was locked")
      assert(!deleted.isDone, "DELETE finished while the table was locked")
    } finally {
      release.countDown()
      holder.join()
    }
    try {
      assert(deleted.get(120, java.util.concurrent.TimeUnit.SECONDS) == 10L)
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      assert(jobs.get() > 0)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(spark.table("g_cow_lock").count() == 90)
    spark.sql("DROP TABLE g_cow_lock")
  }

  test("r10: broad COW DML prunes via semi-join above the IN-list threshold") {
    // VERDICT r9 #5: a broad UPDATE touching many files must not build an
    // O(files) SQL literal (8.5 MB / 1.7 s parse at 10^5 paths, measured)
    // — above graft.cow.inlist.max the prune becomes an IN-subquery over
    // a LocalRelation of paths (broadcast semi-join). Force the switch
    // with a tiny threshold on a many-file table and prove results are
    // byte-identical to the literal path.
    Engine.registerTables(spark, sfDir)
    spark.sql("DROP TABLE IF EXISTS g_cow_wide")
    // range partitioning: files hold contiguous id ranges, so a broad
    // range predicate touches MANY files while leaving some untouched
    // (all-files-affected would degenerate to the unpruned full rewrite)
    spark.sql("SELECT o_orderkey AS id, o_totalprice AS price " +
        "FROM orders WHERE o_orderkey < 2000")
      .repartitionByRange(8, col("id")).write.format("parquet")
      .saveAsTable("g_cow_wide")
    val before = spark.table("g_cow_wide").count()
    val cut = Engine.sql(spark,
      "SELECT CAST(approx_percentile(id, 0.7) AS BIGINT) AS c FROM g_cow_wide")
      .head.getLong(0)
    try {
      spark.conf.set("graft.cow.inlist.max", "2")
      val u = Engine.sql(spark,
        s"UPDATE g_cow_wide SET price = price + 1 WHERE id < $cut AND id % 2 = 0")
      val matched = u.head.getLong(0)
      assert(matched > 0L)
      val (_, aff, linked) = Engine.lastCowStats.get()
      assert(aff > 2 && linked >= 1,
        s"fixture did not produce a broad-but-partial DML: aff=$aff linked=$linked")
      assert(Engine.lastCowPrune.get() == "semijoin",
        s"broad DML should switch to the semi-join prune, got ${Engine.lastCowPrune.get()}")
      assert(spark.table("g_cow_wide").count() == before)
      // every matched id bumped exactly once, the rest untouched
      assert(Engine.sql(spark,
        s"SELECT count(*) AS c FROM g_cow_wide WHERE id < $cut AND id % 2 = 0 " +
          "AND price <> (SELECT o_totalprice FROM orders WHERE o_orderkey = id) + 1")
        .head.getLong(0) == 0L)
      assert(Engine.sql(spark,
        s"SELECT count(*) AS c FROM g_cow_wide WHERE NOT (id < $cut AND id % 2 = 0) " +
          "AND price <> (SELECT o_totalprice FROM orders WHERE o_orderkey = id)")
        .head.getLong(0) == 0L)
      // DELETE through the same switched path
      val d = Engine.sql(spark,
        s"DELETE FROM g_cow_wide WHERE id < $cut AND id % 2 = 0")
      assert(d.head.getLong(0) == matched)
      assert(Engine.lastCowPrune.get() == "semijoin")
      assert(spark.table("g_cow_wide").count() == before - matched)
    } finally {
      spark.conf.unset("graft.cow.inlist.max")
      spark.sql("DROP TABLE g_cow_wide")
    }
  }

  test("r12 advice pin: no-op COW DML leaks no semijoin prune view") {
    // advice r12 claimed a no-op UPDATE above the IN-list threshold leaks
    // its graft_cow_affected_N temp view. The invariant now covers every
    // view the engine registers for one statement — the semijoin prune
    // list, RETURNING rows, the pragma / SUMMARIZE / duckdb_tables() /
    // duckdb_columns() splices and the ASOF merge: each is dropped once its
    // statement is analyzed, so no-op and matched statements alike leave
    // the session catalog as they found it.
    Engine.registerTables(spark, sfDir)
    spark.sql("DROP TABLE IF EXISTS g_cow_noop")
    spark.sql("SELECT o_orderkey AS id, o_totalprice AS price " +
        "FROM orders WHERE o_orderkey < 400")
      .repartitionByRange(4, col("id")).write.format("parquet")
      .saveAsTable("g_cow_noop")
    // the engine's statement-scoped kinds; graft_infoschema_* (a per-session
    // cache) and the translator's file views are not statement-scoped
    val scoped =
      "^graft_(cow_affected|returning|pragma|summarize|duckdb_tables|duckdb_columns|asof)_.*"
    def tempViews(): Seq[String] =
      spark.catalog.listTables().collect().toSeq
        .filter(_.tableType == "TEMPORARY").map(_.name)
    def leaked(names: Seq[String]): Seq[String] = names.filter(_.matches(scoped))
    def run(stmt: String): Unit = {
      Engine.sql(spark, stmt).collect()
      assert(leaked(tempViews()).isEmpty, s"$stmt leaked: ${leaked(tempViews())}")
    }
    try {
      spark.conf.set("graft.cow.inlist.max", "0")
      // no-op UPDATE / DELETE: matched == 0 → early return, no view
      assert(Engine.sql(spark,
        "UPDATE g_cow_noop SET price = 0 WHERE id < 0").head.getLong(0) == 0L)
      assert(leaked(tempViews()).isEmpty, s"no-op UPDATE leaked: ${leaked(tempViews())}")
      assert(Engine.sql(spark,
        "DELETE FROM g_cow_noop WHERE id < 0").head.getLong(0) == 0L)
      assert(leaked(tempViews()).isEmpty, s"no-op DELETE leaked: ${leaked(tempViews())}")
      // matched semijoin DML: the view lives while the rewrite runs only
      assert(Engine.sql(spark,
        "UPDATE g_cow_noop SET price = price + 1 WHERE id < 100")
        .head.getLong(0) > 0L)
      assert(Engine.lastCowPrune.get() == "semijoin")
      assert(leaked(tempViews()).isEmpty, s"matched UPDATE leaked: ${leaked(tempViews())}")
      Seq(
        "UPDATE g_cow_noop SET price = price + 1 WHERE id < 50 RETURNING id",
        "DELETE FROM g_cow_noop WHERE id < 20 RETURNING id, price",
        "UPDATE g_cow_noop SET price = s.o_totalprice FROM orders s " +
          "WHERE g_cow_noop.id = s.o_orderkey AND s.o_orderkey < 60 RETURNING id",
        "DELETE FROM g_cow_noop USING orders s " +
          "WHERE g_cow_noop.id = s.o_orderkey AND s.o_orderkey < 30 RETURNING id",
        "SELECT * FROM pragma_table_info('g_cow_noop')",
        "SELECT * FROM (SUMMARIZE g_cow_noop)",
        "SELECT * FROM duckdb_tables()",
        "SELECT * FROM duckdb_columns()",
        "SELECT e.event_id, o.o_orderdate FROM events e ASOF JOIN orders o " +
          "ON o.o_custkey = e.user_id AND o.o_orderdate >= e.ts ORDER BY e.event_id LIMIT 100"
      ).foreach(run)
      // distinct client texts add no views either
      val before = tempViews().length
      (1 to 5).foreach(i =>
        run(s"SELECT * FROM (SUMMARIZE SELECT price FROM g_cow_noop WHERE id < ${100 + i})"))
      assert(tempViews().length == before)
      // after a DDL every catalog listing is rebuilt: none names a splice
      Engine.sql(spark, "CREATE TABLE g_cow_noop_ddl AS SELECT 1 AS x")
      Engine.sql(spark, "DROP TABLE g_cow_noop_ddl")
      def strings(stmt: String): Seq[String] =
        Engine.sql(spark, stmt).collect().toSeq.flatMap(_.toSeq).map(String.valueOf)
      val listed = Map(
        "SHOW TABLES" -> strings("SHOW TABLES"),
        "information_schema.tables" ->
          strings("SELECT table_name FROM information_schema.tables"),
        "listFlights" -> graft.flight.FlightActions
          .listFlights(spark, Some("spark_catalog"), Some("default")).map(_.table),
        "duckdb_tables()" -> strings("SELECT table_name FROM duckdb_tables()"))
      listed.foreach { case (where, names) =>
        assert(leaked(names).isEmpty, s"$where lists ${leaked(names)}")
      }
    } finally {
      spark.conf.unset("graft.cow.inlist.max")
      spark.sql("DROP TABLE g_cow_noop")
    }
  }
}
