package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

class ExpressionsSpec extends SparkTestBase {

  test("graft_url_canon: authority ends at the first of '/' or '?'") {
    import spark.implicits._
    def c(u: String): String =
      Seq(u).toDF("u").select(expr("graft_url_canon(u)")).head.getString(0)
    // r11 fix: query with no path must not fold into the host — utm
    // strip, param sort, and port drop all apply
    assert(c("HTTP://Ex.com?B=1&utm_source=x") == "http://ex.com/?B=1")
    assert(c("https://Ex.COM:443?b=2&a=1") == "https://ex.com/?a=1&b=2")
    assert(c("http://ex.com?utm_campaign=only#frag") == "http://ex.com/")
    // unchanged shapes: path present, trailing slashes, fragments
    assert(c("HTTP://WWW.Ex.com:80/A/b/?b=1&a=2#Sec") ==
      "http://www.ex.com/A/b?a=2&b=1")
    assert(c("http://ex.com") == "http://ex.com/")
    assert(c("http://ex.com:8080/p") == "http://ex.com:8080/p")
  }

  test("graft_dow/graft_epoch_us: duck day-of-week and epoch conventions") {
    import spark.implicits._
    val df = Seq(1).toDF("x")
    def one(e: String): Any = df.select(expr(e)).head.get(0)
    // duck dow: 0=Sunday..6=Saturday (2024-03-10 was a Sunday)
    assert(one("graft_dow(TIMESTAMP '2024-03-10 06:30:00')") == 0)
    assert(one("graft_dow(DATE '2024-03-11')") == 1)
    // pre-1970: 1969-12-31 was a Wednesday
    assert(one("graft_dow(TIMESTAMP '1969-12-31 23:59:59.25')") == 3)
    // epoch micros: timestamps, dates, both interval classes, and the
    // mixed CalendarInterval (duck: 30-day months)
    assert(one("graft_epoch_us(TIMESTAMP '1969-12-31 23:59:59.25')") == -750000L)
    assert(one("graft_epoch_us(DATE '1969-12-30')") == -172800000000L)
    assert(one("graft_epoch_us(INTERVAL '90' MINUTE)") == 5400000000L)
    assert(one("graft_epoch_us(INTERVAL '1' MONTH)") == 2592000000000L)
    assert(one("graft_epoch_us(make_interval(0, 1, 0, 2, 0, 0, 0))") ==
      2592000000000L + 172800000000L)
    // duck epoch_ms truncates toward zero: -751 us -> 0 ms (DIV 1000)
    assert(df.select(expr(
      "graft_epoch_us(TIMESTAMP '1969-12-31 23:59:59.999249') DIV 1000"))
      .head.get(0) == 0L)
  }

  test("graft_strftime: duck specifier semantics for dynamic patterns") {
    import spark.implicits._
    // duck itself REJECTS non-constant strftime formats ("format must
    // be a constant") — this kernel is a permissive superset whose
    // outputs are pinned against duck's own LITERAL-pattern results
    // (probed 2026-08-15); the old bare date_format rename fed duck
    // %-patterns to the JDK formatter, a silent wrong answer
    val df = Seq(1).toDF("x")
    def f(ts: String, p: String): String =
      df.select(expr(
        s"graft_strftime(TIMESTAMP '$ts', '${p.replace("'", "''")}')"))
        .head.getString(0)
    val t1 = "2024-03-05 09:07:04.123456"
    assert(f(t1, "%Y-%m-%d %H:%M:%S") == "2024-03-05 09:07:04")
    assert(f(t1, "%-d/%-m/%y %I%p") == "5/3/24 09AM")
    assert(f(t1, "%a %A %b %B") == "Tue Tuesday Mar March")
    assert(f(t1, "%j %U %W %V %G %u %w") == "065 09 10 10 2024 2 2")
    assert(f(t1, "%c|%x|%X|%T") ==
      "2024-03-05 09:07:04|2024-03-05|09:07:04|09:07:04")
    assert(f(t1, "%z[%Z] %%Y %n %f %g") ==
      "+00[] %Y 123456000 123456 123")
    val t2 = "2023-01-01 13:00:00"
    assert(f(t2, "%a %u %w %U %W %V %G") == "Sun 7 0 01 00 52 2022")
    assert(f(t2, "%I %p") == "01 PM")
    // unknown specifier throws like duck's parser
    val err = intercept[Exception] {
      df.select(expr("graft_strftime(TIMESTAMP '2024-01-01', '%e')"))
        .head.getString(0)
    }
    assert(err.getMessage.contains("unrecognized format specifier") ||
      err.getCause != null)
  }

  test("graft_strptime: duck strptime semantics for dynamic patterns") {
    import spark.implicits._
    // duck rejects non-constant strptime formats — permissive superset
    // pinned against duck's LITERAL-pattern parses (probed 2026-08-15,
    // two matrices; see StrptimeDyn's scaladoc for the full register)
    val df = Seq(1).toDF("x")
    def f(s: String, p: String): String =
      df.select(expr(
        s"CAST(graft_strptime('${s.replace("'", "''")}', '${p.replace("'", "''")}') AS STRING)"))
        .head.getString(0)
    def fTry(s: String, p: String): String =
      df.select(expr(
        s"CAST(graft_strptime_try('$s', '$p') AS STRING)")).head.getString(0)
    def fails(s: String, p: String): Unit = {
      val e = intercept[Exception](f(s, p))
      assert(e.getMessage != null || e.getCause != null)
    }
    // lenient numeric widths, contiguous digits, multi-space runs
    assert(f("2024-3-5", "%Y-%m-%d") == "2024-03-05 00:00:00")
    assert(f("20240305", "%Y%m%d") == "2024-03-05 00:00:00")
    assert(f("2024  01  02", "%Y %m %d") == "2024-01-02 00:00:00")
    // %y pivot at 68; %-d parses like %d
    assert(f("69", "%y") == "1969-01-01 00:00:00")
    assert(f("68", "%y") == "2068-01-01 00:00:00")
    assert(f("5/3/2024", "%-d/%-m/%Y") == "2024-03-05 00:00:00")
    // %p applies to %H too; 12 AM = 00, 12 PM = 12; >12 with %p fails
    assert(f("03 PM", "%H %p") == "1900-01-01 15:00:00")
    assert(f("12 AM", "%I %p") == "1900-01-01 00:00:00")
    assert(f("12 PM", "%I %p") == "1900-01-01 12:00:00")
    fails("14 PM", "%H %p")
    // %f is INTEGER MICROS (not a fraction); %g millis; %n nanos→round
    assert(f("12:30:45.12", "%H:%M:%S.%f") == "1900-01-01 12:30:45.000012")
    assert(f("12:30:45.123", "%H:%M:%S.%g") == "1900-01-01 12:30:45.123")
    assert(f("2024-03-05 10:00:00.123456789", "%Y-%m-%d %H:%M:%S.%n") ==
      "2024-03-05 10:00:00.123457")
    // %j consumed + range-checked but IGNORED (duck quirk, probed)
    assert(f("2024 366", "%Y %j") == "2024-01-01 00:00:00")
    // month names: %b abbreviation ONLY, %B full, case-insensitive;
    // %a consumed without validating against the date
    assert(f("Mar 5 2024", "%b %d %Y") == "2024-03-05 00:00:00")
    assert(f("mArCh 5 2024", "%B %d %Y") == "2024-03-05 00:00:00")
    assert(f("Mon Mar 5 2024", "%a %b %d %Y") == "2024-03-05 00:00:00")
    fails("March 5 2024", "%b %d %Y")
    // ISO grid: %G selects it, %V/%u default to 1; explicit m/d wins
    assert(f("2024 05 3", "%G %V %u") == "2024-01-31 00:00:00")
    assert(f("2024", "%G") == "2024-01-01 00:00:00")
    assert(f("2024 3", "%G %u") == "2024-01-03 00:00:00")
    assert(f("2024-03-05 2023", "%Y-%m-%d %G") == "2024-03-05 00:00:00")
    // C week grids: %U Sunday-first (+%w), %W Monday-first
    assert(f("1900 10 3", "%Y %U %w") == "1900-03-14 00:00:00")
    assert(f("1900 0 3", "%Y %U %w") == "1900-01-03 00:00:00")
    assert(f("2024 10", "%Y %W") == "2024-03-04 00:00:00")
    // %z/%Z shift to UTC (duck returns TIMESTAMPTZ; engine runs UTC)
    assert(f("2024-03-05 10:00:00 +02", "%Y-%m-%d %H:%M:%S %z") ==
      "2024-03-05 08:00:00")
    assert(f("-0500", "%z") == "1900-01-01 05:00:00")
    assert(f("10:30 PST", "%H:%M %Z") == "1900-01-01 18:30:00")
    assert(f("10:30 Europe/Berlin", "%H:%M %Z") == "1900-01-01 09:30:00")
    // composites and literal-% match
    assert(f("2024-03-05 10:00:00", "%c") == "2024-03-05 10:00:00")
    assert(f("10:00:00", "%T") == "1900-01-01 10:00:00")
    assert(f("%", "%%") == "1900-01-01 00:00:00")
    // loud errors: trailing input, field range, literal case, date
    // out of range (conversion stage)
    fails("2024-01-02xyz", "%Y-%m-%d")
    fails("2024-13-05", "%Y-%m-%d")
    fails("2024-02-30", "%Y-%m-%d")
    fails("t14", "T%H")
    assert(f("T14", "T%H") == "1900-01-01 14:00:00")
    // try flavor: NULL on input failure, loud on bad FORMAT (duck's
    // try_strptime keeps format errors loud too)
    assert(fTry("2024-02-30", "%Y-%m-%d") == null)
    assert(fTry("garbage", "%Y-%m-%d") == null)
    assert(fTry("2024-03-05", "%Y-%m-%d") == "2024-03-05 00:00:00")
    fails("2024", "%e")
    intercept[Exception](fTry("2024", "%e"))
  }

  test("graft_str_index/graft_str_slice: duck VARCHAR subscript matrix") {
    import spark.implicits._
    val df = Seq(("abcdef", 3L)).toDF("s", "k")
    def one(e: String): Any =
      df.select(expr(e)).head.get(0)
    // probed duck matrix (r12): 1-based, negative from-end, '' out of
    // range, clamped slice bounds, crossed → ''
    assert(one("graft_str_index(s, 3)") == "c")
    assert(one("graft_str_index(s, -2)") == "e")
    assert(one("graft_str_index(s, 0)") == "")
    assert(one("graft_str_index(s, 10)") == "")
    assert(one("graft_str_index(s, -10)") == "")
    assert(one("graft_str_index(s, CAST(NULL AS INT))") == null)
    assert(one("graft_str_slice(s, 2, 4)") == "bcd")
    assert(one("graft_str_slice(s, 4, 2)") == "")
    assert(one("graft_str_slice(s, -3, -1)") == "def")
    assert(one("graft_str_slice(s, -100, 2)") == "ab")
    assert(one("graft_str_slice(s, 2, 100)") == "bcdef")
    assert(one("graft_str_slice(s, 1, 9223372036854775807)") == "abcdef")
    assert(one("graft_str_slice(s, CAST(NULL AS INT), 3)") == null)
    // codepoint-aware character positions (duck counts characters)
    assert(Seq("héllo").toDF("s").select(expr("graft_str_index(s, 2)"))
      .head.get(0) == "é")
    // dynamic (column) bounds through codegen
    assert(one("graft_str_slice(s, k, k + 1)") == "cd")
  }

  test("graft_upper/graft_lower are the DuckDB simple 1:1 case mappings") {
    import spark.implicits._
    // probed on DuckDB 1.0 (r10 fuzz batch 6) — Java's FULL mappings
    // diverge on every one of these (ß expands to SS, İ gains a
    // combining dot, the ligature expands, final sigma kicks in)
    assert(Seq("straße").toDF("s")
      .select(expr("graft_upper(s)")).head.getString(0) == "STRAẞE")
    assert(Seq("İSTANBUL").toDF("s")
      .select(expr("graft_lower(s)")).head.getString(0) == "istanbul")
    assert(Seq("ﬁne").toDF("s")
      .select(expr("graft_upper(s)")).head.getString(0) == "ﬁNE")
    assert(Seq("Σασ").toDF("s")
      .select(expr("graft_lower(s)")).head.getString(0) == "σασ")
    assert(Seq("ẞ").toDF("s")
      .select(expr("graft_lower(s)")).head.getString(0) == "ß")
    // ASCII fast path byte-identical to the native mapping
    assert(Seq("Hello WORLD 123").toDF("s")
      .select(expr("graft_lower(s)"), expr("graft_upper(s)")).head.toSeq
      == Seq("hello world 123", "HELLO WORLD 123"))
    // NULL passthrough
    assert(Seq(Option.empty[String]).toDF("s")
      .select(expr("graft_upper(s)")).head.isNullAt(0))
  }

  test("spark.sql.extensions alone resolves the graft functions in a new session") {
    // a session from newSession() inherits the injected functions
    val fresh = spark.newSession()
    assert(fresh.experimental.extraOptimizations.isEmpty)
    val q = "SELECT graft_version() AS v, " +
      "cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
      "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c, " +
      "simhash64(array('a', 'b')) AS sh"
    val r = fresh.sql(q).head
    assert(r.getString(0) == "graft-spark 0.1.0")
    assert(r.getDouble(1) == 1.0)
    assert(r.getLong(2) == spark.sql(q).head.getLong(2))
  }

  test("concurrent Engine.sql finds each graft rule and the strategy once") {
    val fresh = spark.newSession()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val runs = (0 until 4).map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = (0 until 50).foreach { i =>
            graft.engine.Engine.sql(fresh, s"SELECT graft_version() AS v, ${t * 50 + i} AS i")
          }
        })
      }
      runs.foreach(_.get())
    } finally pool.shutdown()
    assert(fresh.experimental.extraOptimizations.isEmpty)
    assert(fresh.experimental.extraStrategies.isEmpty)
    val state = fresh.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    // the optimizer's two operator-optimization batches share one rule
    // list, so each distinct list counts once
    val ruleLists = (state.analyzer.batches.map(_.rules) ++
      state.optimizer.batches.map(_.rules)).distinct
    Seq(graft.plans.DateTruncToDateCast, graft.plans.ProjectAfterTopK,
        graft.plans.DoubleCastToDuckStr, graft.plans.DecDownscaleCast,
        graft.plans.FloorCeilToDbl, graft.plans.StringReverseGrapheme,
        graft.plans.NestedCompare).foreach { r =>
      assert(ruleLists.map(_.count(_ eq r)).sum == 1, s"${r.ruleName} not installed once")
    }
    assert(state.planner.strategies.count(_ eq graft.plans.SingleStreamStrategy) == 1)
    assert(graft.engine.Engine.sql(fresh, "SELECT graft_version() AS v").head.getString(0) ==
      "graft-spark 0.1.0")
  }

  test("register rejects a spark.sql.extensions value without GraftExtensions") {
    GraftFunctions.register(spark)
    GraftFunctions.requireExtensions(Some("a.Other, graft.functions.GraftExtensions"))
    Seq(None, Some(""), Some("a.Other"), Some("graft.functions.GraftExtensionsX")).foreach { c =>
      val e = intercept[IllegalArgumentException](GraftFunctions.requireExtensions(c))
      assert(e.getMessage.contains("spark.sql.extensions"), e.getMessage)
    }
  }

  test("cosine_sim matches a reference computation") {
    val a = Array(1.0f, 2.0f, 3.0f)
    val b = Array(4.0f, 5.0f, 6.0f)
    val expected = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val df = spark.createDataFrame(Seq((a, b))).toDF("x", "y")
    val got = df.select(expr("cosine_sim(x, y)")).head.getDouble(0)
    assert(math.abs(got - expected) < 1e-12)
    // p63/p65's top-k shape (ORDER BY … LIMIT): TakeOrderedAndProject
    // compiles its projection outside whole-stage codegen, in a method
    // whose input row is named `i`; pinned with the interpreted fallback off
    val codegenOnly = Seq("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    codegenOnly.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val vecs = spark.range(2).selectExpr("id",
        "array(CAST(1.0 + id AS FLOAT), CAST(2.0 AS FLOAT), CAST(3.0 AS FLOAT)) AS x",
        "array(CAST(4.0 AS FLOAT), CAST(5.0 AS FLOAT), CAST(6.0 AS FLOAT)) AS y")
      val top = vecs.select(col("id"), expr("cosine_sim(x, y)").as("c"))
        .orderBy("id").limit(1).head.getDouble(1)
      assert(math.abs(top - expected) < 1e-12)
    } finally codegenOnly.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("cosine_sim of identical vectors is 1; orthogonal is 0; zero vector is null") {
    val df = spark.createDataFrame(Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(0.0f, 0.0f), Array(1.0f, 1.0f)))).toDF("x", "y")
    val rows = df.select(expr("cosine_sim(x, y)")).collect()
    assert(math.abs(rows(0).getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(rows(1).getDouble(0)) < 1e-12)
    assert(rows(2).isNullAt(0))
  }

  test("cosine_sim length mismatch yields null") {
    val df = spark.createDataFrame(Seq((Array(1.0f), Array(1.0f, 2.0f)))).toDF("x", "y")
    assert(df.select(expr("cosine_sim(x, y)")).head.isNullAt(0))
  }

  test("token_window_hashes: distinct sets, window semantics, short-doc case") {
    val df = spark.createDataFrame(Seq(
      (1L, Seq("a", "b", "c", "d")), // 2 windows of 3: abc, bcd
      (2L, Seq("a", "b", "c", "d")), // identical doc → identical set
      (3L, Seq("a", "b", "c", "a", "b", "c")), // windows repeat → distinct set smaller
      (4L, Seq("x", "y")) // shorter than width → single window
    )).toDF("id", "toks")
    val rows = df.orderBy("id")
      .select(expr("token_window_hashes(toks, 3)")).collect()
      .map(_.getSeq[Long](0))
    assert(rows(0).length == 2)
    assert(rows(0).toSet == rows(1).toSet)
    assert(rows(2).toSet.size == rows(2).length) // distinct
    assert(rows(2).length == 3) // 4 windows, "abc" repeats → 3 distinct
    assert(rows(2).toSet.intersect(rows(0).toSet).size == 1) // shares only "abc"
    assert(rows(3).length == 1)
    // jaccard of identical docs is 1 via these sets
    assert(rows(0).toSet.intersect(rows(1).toSet).size == rows(0).length)
  }

  test("hyperplane_sig matches driver-side signatureOf exactly") {
    val rnd = new scala.util.Random(3)
    val vecs = (0 until 50).map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val df = spark.createDataFrame(vecs).toDF("id", "v")
    val got = df.select(col("id"), expr("hyperplane_sig(v, 12)").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    vecs.foreach { case (id, v) =>
      assert(got(id) == HyperplaneSig.signatureOf(v, 12),
        s"executor/driver signature divergence for vec $id")
    }
  }

  test("hyperplane_sig groups near-identical vectors, separates far ones") {
    val base = Array.fill(16)(0.5f)
    val near = base.map(_ + 0.001f)
    val far = base.map(-_)
    val df = spark.createDataFrame(Seq((1L, base), (2L, near), (3L, far))).toDF("id", "v")
    val sigs = df.orderBy("id").select(expr("hyperplane_sig(v, 16)")).collect().map(_.getLong(0))
    assert(sigs(0) == sigs(1))
    assert(sigs(0) != sigs(2))
  }

  test("simhash64: identical token arrays collide, disjoint ones differ") {
    val df = spark.createDataFrame(Seq(
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq("a", "b", "c", "d")),
      (3L, Seq("w", "x", "y", "z", "q", "r", "s", "t")))).toDF("id", "toks")
    val hs = df.select(expr("simhash64(toks)")).collect().map(_.getLong(0))
    assert(hs(0) == hs(1))
    assert(hs(0) != hs(2))
  }

  test("simhash64 of near-identical docs has small hamming distance") {
    val base = (1 to 50).map(i => s"tok$i")
    val edited = base.updated(10, "CHANGED").updated(30, "ALSO")
    val df = spark.createDataFrame(Seq((base, edited))).toDF("a", "b")
    val d = df.select(expr("bit_count(simhash64(a) ^ simhash64(b))")).head.getInt(0)
    assert(d <= 16, s"hamming distance $d too large for near-identical docs")
  }

  test("simhash_md5 token hash equals the SQL-expressible md5 hex parse") {
    // the portable kernel's 60-bit token hash must equal parsing hex
    // chars 18..32 of md5(token) — the exact construction the DuckDB
    // oracle uses (CAST('0x'||substr(md5(t),18,15) AS BIGINT))
    val toks = Seq("hello", "the", "Ümläut", "", "a b", "0", "zzz9")
    val df = spark.createDataFrame(toks.map(Tuple1(_))).toDF("t")
    val viaSql = df.select(
      expr("CAST(conv(substring(md5(t), 18, 15), 16, 10) AS BIGINT)"))
      .collect().map(_.getLong(0))
    val viaKernel = toks.map(t => SimHashMd5.tokenHash(t.getBytes("UTF-8")))
    assert(viaKernel == viaSql.toSeq)
  }

  test("simhash_md5 matches a per-bit vote reference and stays within 60 bits") {
    val toks = Seq("the", "quick", "brown", "fox", "the", "dog")
    val df = spark.createDataFrame(Seq(Tuple1(toks))).toDF("toks")
    val got = df.select(expr("simhash_md5(toks)")).head.getLong(0)
    val votes = new Array[Int](60)
    toks.foreach { t =>
      val h = SimHashMd5.tokenHash(t.getBytes("UTF-8"))
      (0 until 60).foreach(b => if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1)
    }
    val want = (0 until 60).map(b => if (votes(b) > 0) 1L << b else 0L).sum
    assert(got == want)
    assert((got >>> 60) == 0L, "portable simhash must fit in 60 bits")
  }

  test("simhash_md5 near-identical docs land within the banding hamming radius") {
    val base = (1 to 50).map(i => s"tok$i")
    val edited = base.updated(10, "CHANGED")
    val df = spark.createDataFrame(Seq((base, edited))).toDF("a", "b")
    val d = df.select(expr("bit_count(simhash_md5(a) ^ simhash_md5(b))")).head.getInt(0)
    assert(d <= 16, s"hamming distance $d too large for near-identical docs")
  }

  test("chunk_windows kernel matches the slice/concat_ws reference on random strings") {
    val rnd = new scala.util.Random(7)
    val alphabet = "ab c  d\tx" // multi-space runs; tab is a non-space byte
    val docs = (0 until 60).map { i =>
      val len = rnd.nextInt(200)
      (i.toLong, (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    } :+ (60L, "") :+ (61L, "   ") :+ (62L, "one")
    val df = spark.createDataFrame(docs).toDF("doc_id", "text")
    df.createOrReplaceTempView("__cw")
    // reference: tokenize → nc → slice every window → concat_ws
    val ref = spark.sql(
      """SELECT doc_id, ci, concat_ws(' ', slice(tk, CAST(ci * 3 + 1 AS INT), 5)) AS ck
        |FROM (SELECT doc_id, tk,
        |        posexplode(sequence(0, CASE WHEN size(tk) <= 5 THEN 0
        |          ELSE CAST((size(tk) - 5 + 2) DIV 3 AS INT) END)) AS (p, ci)
        |      FROM (SELECT doc_id, filter(split(text, ' '), t -> t <> '') AS tk FROM __cw))
        |""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val got = spark.sql(
      "SELECT doc_id, posexplode(chunk_windows(text, 5, 3)) AS (ci, ck) FROM __cw")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(got == ref)
  }

  test("byte_shingle_simhash matches the SQL md5-parse vote on random strings") {
    val rnd = new scala.util.Random(11)
    val docs = (0 until 30).map { i =>
      val len = rnd.nextInt(120)
      (i.toLong, (0 until len).map(_ => (32 + rnd.nextInt(95)).toChar).mkString
        .replace('\'', 'q')) // keep the SQL literal-free reference simple
    } :+ (30L, "") :+ (31L, "abc") // shorter than the 4-byte shingle -> 0
    val df = spark.createDataFrame(docs).toDF("id", "text")
    df.createOrReplaceTempView("__bs")
    val ref = spark.sql(
      """SELECT id, CASE WHEN length(text) < 4 THEN 0L ELSE
        |  aggregate(sequence(0, 59), 0L, (acc, j) ->
        |    acc + IF(aggregate(
        |      transform(sequence(1, length(text) - 3),
        |        i -> conv(substr(md5(substr(text, i, 4)), 18, 15), 16, 10)),
        |      0, (v, h) -> v + IF((CAST(h AS BIGINT) >> j) & 1 = 1, 1, -1)) > 0,
        |      shiftleft(1L, j), 0L)) END AS sh
        |FROM __bs""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val got = spark.sql(
      "SELECT id, byte_shingle_simhash(CAST(text AS BINARY), 4) AS sh FROM __bs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == ref)
    assert(got(30L) == 0L && got(31L) == 0L)
  }

  test("graft_list_distinct drops NULLs and keeps first-occurrence order") {
    // DuckDB probe (v1.0.0): list_distinct([1,2,2,NULL,NULL]) = [2,1]
    // and array_distinct is the same alias — the CONTENT contract is
    // "distinct non-NULL elements"; order is engine-unspecified so the
    // assert sorts. Translator emits graft_list_distinct for both names.
    val got = spark.sql(
      "SELECT graft_list_distinct(array(1, 2, 2, NULL, NULL)) AS xs")
      .head.getSeq[Any](0)
    assert(got.sortBy(_.toString) == Seq(1, 2))
    assert(spark.sql("SELECT graft_list_distinct(array(CAST(NULL AS INT)))")
      .head.getSeq[Any](0).isEmpty)
  }

  test("intDiv negative operands: Spark DIV matches DuckDB // truncation") {
    // ADVICE r6 hypothesized a floor-division divergence; the probe
    // shows DuckDB 1.0's integer // TRUNCATES toward zero (-7//2 = -3),
    // exactly Spark's DIV — pin both engines' agreement here.
    val r = spark.sql(
      graft.dialect.Translator.sparkSql(
        "SELECT intDiv(-7, 2) AS a, intDiv(7, -2) AS b, intDiv(-7, -2) AS c"))
      .head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((-3L, -3L, 3L)))
  }

  test("graft_version registered") {
    assert(spark.sql("SELECT graft_version()").head.getString(0).startsWith("graft-spark"))
  }

  test("bpe_token_count matches regexp_count on random strings") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val alphabet = "ab1 .,!\tZ9-\né中 "
    val strs = (0 until 300).map { _ =>
      (0 until rnd.nextInt(40)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    } :+ "" :+ "don't stop-me now, it's 42km!" :+ " x "
    val df = strs.toDF("s")
    val rows = df.select(
      expr("bpe_token_count(s)"),
      expr(s"CAST(regexp_count(s, '${graft.operators.TextAnalysis.bpeTokenPattern}') AS INT)"))
      .collect()
    rows.zip(strs).foreach { case (r, s) =>
      assert(r.getInt(0) == r.getInt(1), s"mismatch on ${s.map(_.toInt)}: scan=${r.getInt(0)} regex=${r.getInt(1)}")
    }
  }

  test("pii_scrub matches the regex path on random and adversarial strings") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // alphabet weighted toward pattern-relevant chars so emails/phones
    // and NEAR-misses form often
    val alphabet = "ab.z@ 019+-()%_cde@.. 5"
    val strs = (0 until 400).map { _ =>
      (0 until rnd.nextInt(50)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    } ++ Seq("", "a@b.co", "a@.com", "a@b.c", "x@y.z@a.com", "call +1 555-0123 or 5551234567 now",
      "12345678", "123456", "+', digits 99 88 77 66 5", "u.-x%@a-b.c-d.org tail",
      "a@b.co.uk x", "nested u@v.ww@x.yy here", "+12345678", "()+55555555()")
    val df = strs.toDF("s")
    val e = graft.operators.TextAnalysis.emailPattern
    val p = graft.operators.TextAnalysis.phonePattern
    val rows = df.select(
      expr("pii_scrub(s)").as("k"),
      expr(s"regexp_replace(regexp_replace(s, '$e', '<EMAIL>'), '$p', '<PHONE>')"),
      expr(s"size(regexp_extract_all(s, '$e', 0))"),
      expr(s"size(regexp_extract_all(s, '$p', 0))")).collect()
    rows.zip(strs).foreach { case (r, s) =>
      val k = r.getSeq[String](0)
      assert(k(0) == r.getString(1), s"scrub mismatch on '$s': scan='${k(0)}' regex='${r.getString(1)}'")
      assert(k(1).toInt == r.getInt(2), s"email count mismatch on '$s'")
      assert(k(2).toInt == r.getInt(3), s"phone count mismatch on '$s'")
    }
  }

  test("dup_gram_stats matches the transform/array_distinct pipeline on random strings") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val words = Seq("a", "b", "cat", "dog", "xy", "a") // dup-heavy vocab
    val strs = (0 until 300).map { _ =>
      (0 until rnd.nextInt(30)).map(_ => words(rnd.nextInt(words.length)))
        .mkString(" ") + (if (rnd.nextBoolean()) "  " else "")
    } ++ Seq("", "solo", "a a a a a", "  leading  gaps  ", "tab\tinside stays one-token")
    val rows = strs.toDF("s").select(
      expr("dup_gram_stats(s)").as("k"),
      expr("filter(split(s, ' '), t -> t != '')").as("t"))
      .selectExpr("k",
        "size(t) - 1 AS ng",
        "CASE WHEN size(t) < 2 THEN 0 ELSE size(array_distinct(transform(sequence(1, size(t) - 1), i -> concat(element_at(t, i), ' ', element_at(t, i + 1))))) END AS nd",
        "size(t) AS nt")
      .collect()
    rows.foreach { r =>
      val k = r.getSeq[Long](0)
      val nt = r.getInt(3)
      if (nt < 2) assert(k == Seq(0L, 0L))
      else {
        assert(k(0) == r.getInt(1).toLong, s"n_grams mismatch: $k vs ${r.getInt(1)}")
        assert(k(1) == r.getInt(2).toLong, s"distinct mismatch: $k vs ${r.getInt(2)}")
      }
    }
  }

  test("token_hashes mirrors the token stream: count, order, equality structure") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val words = Seq("a", "b", "cat", "dog", "xy", "a", "Zebra", "zebra")
    val strs = (0 until 300).map { _ =>
      (0 until rnd.nextInt(30)).map(_ => words(rnd.nextInt(words.length)))
        .mkString(" ") + (if (rnd.nextBoolean()) "  " else "")
    } ++ Seq("", "solo", "a a a a a", "  leading  gaps  ", "tab\tinside stays one-token")
    val rows = strs.toDF("s").select(
      expr("token_hashes(s)").as("h"),
      expr("filter(split(s, ' '), t -> t != '')").as("t"))
      .collect()
    rows.foreach { r =>
      val h = r.getSeq[Long](0)
      val t = r.getSeq[String](1)
      // one hash per token, in order
      assert(h.length == t.length, s"count mismatch: $h vs $t")
      // the hash preserves the tokens' equality structure exactly
      // (same token -> same hash; here also distinct -> distinct, which
      // doubles as a smoke test that short tokens don't collide)
      val byTok = t.zip(h).groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
      byTok.foreach { case (tok, hs) =>
        assert(hs.length == 1, s"token '$tok' got ${hs.length} hashes")
      }
      assert(byTok.values.map(_.head).toSeq.distinct.length == byTok.size,
        s"distinct tokens collided in $t")
    }
    // pinned: deterministic across runs/JVMs (cluster determinism)
    val pinned = spark.sql("SELECT token_hashes('a b a') AS h").head.getSeq[Long](0)
    assert(pinned(0) == pinned(2) && pinned(0) != pinned(1))
  }

  test("token_counts matches the explode/groupBy term frequencies (r8)") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val words = Seq("a", "b", "cat", "dog", "xy", "a", "Zebra", "zebra")
    val strs = (0 until 300).map { _ =>
      (0 until rnd.nextInt(30)).map(_ => words(rnd.nextInt(words.length)))
        .mkString(" ") + (if (rnd.nextBoolean()) "  " else "")
    } ++ Seq("", "solo", "a a a a a", "  leading  gaps  ", "tab\tinside stays one-token")
    val rows = strs.toDF("s").select(
      expr("token_counts(s)").as("tc"),
      expr("filter(split(s, ' '), t -> t != '')").as("t"))
      .collect()
    rows.foreach { r =>
      val tc = r.getSeq[org.apache.spark.sql.Row](0)
        .map(e => e.getString(0) -> e.getInt(1))
      val t = r.getSeq[String](1)
      // per-term counts match the raw token stream exactly
      val want = t.groupBy(identity).view.mapValues(_.length).toMap
      assert(tc.toMap == want, s"counts mismatch: $tc vs $want for $t")
      // one entry per distinct term, first-occurrence order
      assert(tc.map(_._1) == t.distinct, s"order mismatch: $tc vs ${t.distinct}")
    }
  }

  test("quant_dot and quant_cos_micro match the zip_with SQL forms on random vectors") {
    val rnd = new scala.util.Random(11)
    // include exactly-representable ties (0.0625*1000 = 62.5) and negatives
    val specials = Seq(0.0625f, -0.0625f, 0.5f, -0.5f, 0.0005f, 1.0f, -1.0f, 0.0f)
    val vecs = (0 until 200).map { i =>
      (i.toLong,
        Array.fill(16)(if (rnd.nextInt(8) == 0) specials(rnd.nextInt(specials.length))
          else (rnd.nextFloat() * 2 - 1)),
        Array.fill(16)(if (rnd.nextInt(8) == 0) specials(rnd.nextInt(specials.length))
          else (rnd.nextFloat() * 2 - 1)))
    }
    val df = spark.createDataFrame(vecs).toDF("id", "x", "y")
      .withColumn("qy", expr("transform(y, v -> CAST(round(CAST(v AS DOUBLE)*1000) AS BIGINT))"))
    val quant = "CAST(round(CAST(%s AS DOUBLE)*1000) AS BIGINT)"
    def qdot(a: String, b: String) =
      s"aggregate(zip_with($a, $b, (p, q) -> ${quant.format("p")} * ${quant.format("q")}), 0L, (acc, v) -> acc + v)"
    val rows = df.select(
      expr("quant_dot(x, qy)"),
      expr(s"CAST(${qdot("x", "y")} AS BIGINT)"),
      expr("quant_cos_micro(x, qy)"),
      expr(s"CAST(round(1000000.0 * CAST(${qdot("x", "y")} AS DOUBLE) / " +
        s"(sqrt(CAST(${qdot("y", "y")} AS DOUBLE)) * sqrt(CAST(${qdot("x", "x")} AS DOUBLE)))) AS BIGINT)"))
      .collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) == r.getLong(1), s"quant_dot mismatch on vec $i")
      assert(r.getLong(2) == r.getLong(3), s"quant_cos_micro mismatch on vec $i")
    }
  }

  test("quant kernels: length mismatch and zero norms yield null") {
    val df = spark.sql(
      "SELECT quant_dot(array(CAST(1.0 AS FLOAT)), array(1L, 2L)) a, " +
        "quant_cos_micro(array(CAST(0.0 AS FLOAT)), array(0L)) b, " +
        "quant_dot(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)), array(1L, 2L)) c")
    val r = df.head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("token_set_hits matches size(filter(split)) chains on random strings") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val words = Seq("the", "la", "und", "x", "zz", "é中", "a1")
    val strs = (0 until 300).map { _ =>
      (0 until rnd.nextInt(30)).map(_ =>
        if (rnd.nextBoolean()) words(rnd.nextInt(words.length)) else "w" + rnd.nextInt(5))
        .mkString(if (rnd.nextBoolean()) " " else "  ")
    } :+ "" :+ " " :+ "  the  la " :+ "la"
    // 'la' is in both sets — bitmask path must count it twice
    val set1 = "array('the','la','und')"
    val set2 = "array('la','x','é中')"
    val rows = strs.toDF("s").select(
      expr(s"token_set_hits(s, $set1, $set2)"),
      expr("size(filter(split(s, ' '), t -> t <> ''))"),
      expr(s"size(filter(filter(split(s, ' '), t -> t <> ''), t -> array_contains($set1, t)))"),
      expr(s"size(filter(filter(split(s, ' '), t -> t <> ''), t -> array_contains($set2, t)))"))
      .collect()
    rows.zip(strs).foreach { case (r, s) =>
      val h = r.getSeq[Int](0)
      assert(h(0) == r.getInt(1), s"token count mismatch on '$s'")
      assert(h(1) == r.getInt(2), s"set1 hits mismatch on '$s'")
      assert(h(2) == r.getInt(3), s"set2 hits mismatch on '$s'")
    }
  }

  test("ascii_char_count matches the length-difference regexp form") {
    import spark.implicits._
    val strs = Seq("", "a.b,c!", "no punct here", "é中.,!?;:中", "...", ";:!? .,")
    val rows = strs.toDF("s").select(
      expr("ascii_char_count(s, '.,!?;:')"),
      expr("CAST(length(s) - length(regexp_replace(s, '[.,!?;:]', '')) AS INT)"))
      .collect()
    rows.zip(strs).foreach { case (r, s) =>
      assert(r.getInt(0) == r.getInt(1), s"punct count mismatch on '$s'")
    }
  }

  test("strip_to_alnum_space matches trim(regexp_replace) on random strings") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val alphabet = "abz019 .,!é中ß\t\nA"
    val strs = (0 until 300).map { _ =>
      (0 until rnd.nextInt(50)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    } :+ "" :+ "   " :+ " hello, World! 42 "
    val rows = strs.toDF("s").select(
      expr("strip_to_alnum_space(lower(s))"),
      expr("trim(regexp_replace(lower(s), '[^a-z0-9 ]', ''))"))
      .collect()
    rows.zip(strs).foreach { case (r, s) =>
      assert(r.getString(0) == r.getString(1), s"strip mismatch on ${s.map(_.toInt)}")
    }
  }

  test("regexp_replace_first replaces only the first match") {
    val df = spark.createDataFrame(Seq(Tuple1("small ring"))).toDF("s")
    assert(df.select(expr("regexp_replace_first(s, '[aeiou]', '*')"))
      .head.getString(0) == "sm*ll ring")
    // Spark's builtin stays global
    assert(df.select(expr("regexp_replace(s, '[aeiou]', '*')"))
      .head.getString(0) == "sm*ll r*ng")
  }

  test("regexp_replace_first DuckDB-style backrefs and literal dollars") {
    val df = spark.createDataFrame(Seq(Tuple1("abc def"))).toDF("s")
    assert(df.select(expr("regexp_replace_first(s, '(\\w+) (\\w+)', '\\2 \\1')"))
      .head.getString(0) == "def abc")
    // '$' is literal in RE2/DuckDB replacements (Java would treat $1 as a group)
    assert(df.select(expr("regexp_replace_first(s, 'abc', '$1x')"))
      .head.getString(0) == "$1x def")
    // no match → input unchanged
    assert(df.select(expr("regexp_replace_first(s, 'zzz', 'y')"))
      .head.getString(0) == "abc def")
  }

  test("remove_token_spans merges overlapping coverage in one pass") {
    val df = spark.createDataFrame(Seq(
      Tuple1("a b c d e f g h"))).toDF("s")
    def run(starts: String, k: Int): String =
      df.select(expr(s"remove_token_spans(s, array($starts), $k)"))
        .head.getString(0)
    assert(run("1", 3) == "a e f g h")           // [1,4) cut
    assert(run("1, 2", 3) == "a f g h")          // overlap merges to [1,5)
    assert(run("0, 5", 2) == "c d e h")          // disjoint spans
    assert(run("6", 5) == "a b c d e f")         // span past the end clips
    assert(run("", 3) == "a b c d e f g h")      // no spans → normalized
    assert(run("0", 99) == "")                   // full coverage → empty
    // equals the exploded-positions form on the same spans
    val viaPositions = df.select(
      expr("remove_token_positions(s, array(1, 2, 3, 2, 4))")).head.getString(0)
    assert(run("1, 2", 3) == viaPositions)
  }

  test("string-sim kernels pin the DuckDB 1.0 probe values") {
    val df = spark.range(1).toDF("i")
    def d(e: String): Double = df.select(expr(e)).head.getDouble(0)
    def l(e: String): Long = df.select(expr(e)).head.getLong(0)
    // TRUE Damerau: 'ca'->'abc' is 2 (OSA would say 3)
    assert(l("damerau_levenshtein('ca', 'abc')") == 2L)
    assert(l("damerau_levenshtein('abcd', 'acbd')") == 1L)
    assert(l("damerau_levenshtein('', 'abc')") == 3L)
    assert(l("damerau_levenshtein('', '')") == 0L)
    assert(l("damerau_levenshtein('ABC', 'abc')") == 3L) // case-sensitive
    assert(math.abs(d("jaro_similarity('martha', 'marhta')") - 0.9444444444444445) < 1e-15)
    assert(d("jaro_similarity('', 'abc')") == 0.0)
    assert(d("jaro_similarity('', '')") == 0.0) // DuckDB-pinned, not 1.0
    assert(d("jaro_similarity('abc', 'abc')") == 1.0)
    assert(math.abs(d("jaro_winkler_similarity('DWAYNE', 'DUANE')") - 0.8400000000000001) < 1e-15)
    // no boost at jaro <= 0.7
    assert(math.abs(d("jaro_winkler_similarity('aXXXXX', 'aYYYYY')") - 0.4444444444444444) < 1e-15)
    // prefix cap 4 (5-char common prefix counts as 4)
    assert(math.abs(d("jaro_winkler_similarity('abcdexxxx', 'abcdeyyyy')") - 0.8222222222222222) < 1e-15)
    // r14 (str fuzz): duck's similarity family operates on UTF-8
    // BYTES — probed levenshtein('é','X') = 2 (not the codepoint 1),
    // jaro('über','uber') = 0.78333… (the 5-byte answer)
    assert(l("graft_levenshtein('kitten', 'sitting')") == 3L)
    assert(l("graft_levenshtein('é', 'X')") == 2L)
    assert(l("damerau_levenshtein('é', 'X')") == 2L)
    assert(math.abs(d("jaro_similarity('über', 'uber')") - 0.7833333333333333) < 1e-12)
    // mismatches counts BYTES and nulls on unequal BYTE lengths
    // (duck errors — 'éa' is 3 bytes vs 'Xa' 2)
    assert(l("graft_mismatches('abc', 'abd')") == 1L)
    assert(df.select(expr("graft_mismatches('éa', 'Xa')")).head.isNullAt(0))
    assert(l("graft_mismatches('éa', 'aé')") == 3L)
    // grapheme reverse: the DECOMPOSED cafe+U+0301 keeps the accent on
    // its base (the cluster moves as a unit, bytes intact); codepoint
    // reversal would strand U+0301 at the front. Escapes, not glyphs:
    // editors silently NFC-normalize decomposed literals.
    assert(df.select(expr("graft_reverse('cafe\u0301')")).head.getString(0)
      == "e\u0301fac")
    assert(df.select(expr("graft_reverse('ab😀c')")).head.getString(0)
      == "c😀ba")
  }

  test("gcd/lcm kernels: absolute-value semantics, zero edges") {
    val df = spark.range(1).toDF("i")
    def l(e: String): Long = df.select(expr(e)).head.getLong(0)
    assert(l("gcd(-12L, 18L)") == 6L)
    assert(l("gcd(0L, 5L)") == 5L)
    assert(l("gcd(0L, 0L)") == 0L)
    assert(l("lcm(-4L, 6L)") == 12L)
    assert(l("lcm(0L, 5L)") == 0L)
    assert(l("lcm(123456789L, 987654321L)") == 13548070123626141L)
  }

  test("graft_bar pins the DuckDB 1.0 probe values incl. byte-length padding") {
    val df = spark.range(1).toDF("i")
    def s(e: String): String = df.select(expr(e)).head.getString(0)
    // probe table from DuckDB 1.0: bar(v, 0, 10, 10)
    assert(s("graft_bar(0, 0, 10, 10)") == " " * 10)
    assert(s("graft_bar(-1, 0, 10, 10)") == " " * 10)      // clamp low
    assert(s("graft_bar(0.2, 0, 10, 10)") == "▏" + " " * 7)
    assert(s("graft_bar(0.9, 0, 10, 10)") == "▉" + " " * 7)
    assert(s("graft_bar(1.0, 0, 10, 10)") == "█" + " " * 7)
    assert(s("graft_bar(1.4, 0, 10, 10)") == "█▍" + " " * 4)
    assert(s("graft_bar(2.5, 0, 10, 10)") == "██▌ ")
    assert(s("graft_bar(9.0, 0, 10, 10)") == "█" * 9)
    assert(s("graft_bar(9.93, 0, 10, 10)") == "█" * 9 + "▉")
    assert(s("graft_bar(10, 0, 10, 10)") == "█" * 10)
    assert(s("graft_bar(11, 0, 10, 10)") == "█" * 10)      // clamp high
    assert(s("graft_bar(5.55, 0, 10, 9)") == "████▉")
    // default width 80: bar(7, 0, 10) = 56 full blocks (probe)
    assert(s("graft_bar(7, 0, 10, 80)") == "█" * 56)
  }

  test("graft_format_bytes pins the DuckDB 1.0 probe values") {
    val df = spark.range(1).toDF("i")
    def s(e: String): String = df.select(expr(e)).head.getString(0)
    assert(s("graft_format_bytes(0)") == "0 bytes")
    assert(s("graft_format_bytes(1)") == "1 byte")
    assert(s("graft_format_bytes(-1)") == "-1 byte")
    assert(s("graft_format_bytes(999)") == "999 bytes")
    assert(s("graft_format_bytes(1023)") == "1023 bytes")
    assert(s("graft_format_bytes(1024)") == "1.0 KiB")
    assert(s("graft_format_bytes(1536)") == "1.5 KiB")
    assert(s("graft_format_bytes(2047)") == "1.9 KiB")      // truncation
    assert(s("graft_format_bytes(1048570)") == "1023.9 KiB") // not 1024.0
    assert(s("graft_format_bytes(-1500)") == "-1.4 KiB")    // trunc toward 0
    assert(s("graft_format_bytes(123456789)") == "117.7 MiB")
    assert(s("graft_format_bytes(1073741824)") == "1.0 GiB")
    assert(s("graft_format_bytes(1099511627776)") == "1.0 TiB")
    assert(s("graft_format_bytes(1152921504606846976)") == "1024.0 PiB")
    assert(s("graft_format_bytes(9223372036854775807)") == "8191.9 PiB")
    assert(s("graft_format_bytes(1125899906842623)") == "1023.9 TiB")
    assert(s("graft_format_bytes(-9223372036854775808)") == "-8192.0 PiB")
  }

  test("char_entropy: one-scan per-string Shannon bits over bytes") {
    val df = spark.range(1).toDF("i")
    def d(e: String): Double = df.select(expr(e)).head.getDouble(0)
    assert(d("char_entropy('')") == 0.0)
    assert(d("char_entropy('aaaa')") == 0.0)
    assert(math.abs(d("char_entropy('ab')") - 1.0) < 1e-12)
    // 'abb': p(a)=1/3, p(b)=2/3
    val exp = -(1.0 / 3 * math.log(1.0 / 3) / math.log(2) +
      2.0 / 3 * math.log(2.0 / 3) / math.log(2))
    assert(math.abs(d("char_entropy('abb')") - exp) < 1e-12)
    // order-independent: same multiset, same entropy
    assert(d("char_entropy('abcabc')") == d("char_entropy('ccbbaa')"))
  }

  test("unicode kernels: strip_accents, nfc_normalize, codepoint chr") {
    val df = spark.range(1).toDF("i")
    def s(e: String): String = df.select(expr(e)).head.getString(0)
    // probe-pinned on DuckDB 1.0: marks stripped, ß survives (no
    // decomposition)
    assert(s("strip_accents('héllo ünïcodé ñ ß')") == "hello unicode n ß")
    assert(s("strip_accents('plain ascii')") == "plain ascii")
    // NFC composes e + combining acute (U+0301) into é
    assert(s("nfc_normalize('e' || graft_chr(769))") == "é")
    assert(s("nfc_normalize('abc')") == "abc")
    assert(s("graft_chr(65)") == "A")
    assert(s("graft_chr(233)") == "é")
    assert(s("graft_chr(128512)") == new String(Character.toChars(128512)))
  }

  test("graft_format_bytes_decimal pins the DuckDB probe values (base 1000)") {
    val df = spark.range(1).toDF("i")
    def s(e: String): String = df.select(expr(e)).head.getString(0)
    assert(s("graft_format_bytes_decimal(999)") == "999 bytes")
    assert(s("graft_format_bytes_decimal(1)") == "1 byte")
    assert(s("graft_format_bytes_decimal(1024)") == "1.0 kB")
    assert(s("graft_format_bytes_decimal(999999)") == "999.9 kB")
    assert(s("graft_format_bytes_decimal(-2500)") == "-2.5 kB")
    assert(s("graft_format_bytes_decimal(1500000000)") == "1.5 GB")
  }

  test("graft_mad pins DuckDB's interpolated median absolute deviation") {
    import spark.implicits._
    def mad(vs: Seq[Double]): Any = {
      val r = vs.toDF("x").select(expr("graft_mad(x)")).head
      if (r.isNullAt(0)) null else r.getDouble(0)
    }
    assert(mad(Seq(1, 2, 3, 100)) == 1.0) // median 2.5, devs {.5,.5,1.5,97.5}
    assert(mad(Seq(1, 2, 4)) == 1.0)
    assert(mad(Seq(5)) == 0.0)
    assert(mad(Seq.empty) == null)
    // duplicate-heavy multiset exercises the weighted interpolation
    assert(mad(Seq(1, 1, 1, 9)) == 0.0)
    assert(mad(Seq(1, 1, 9, 9)) == 4.0) // median 5, devs all 4
  }

  test("product/entropy/histogram aggregates pin DuckDB 1.0 semantics") {
    import spark.implicits._
    // product: NULLs skipped, empty/all-NULL group NULL, -0.0 via plain
    // double multiply (2 * 0 * -3)
    val p = Seq(Some(2.0), None, Some(0.0), Some(-3.0)).toDF("x")
    val prow = p.select(expr("graft_product(x)")).head
    assert(prow.getDouble(0) == 0.0 &&
      (1.0 / prow.getDouble(0)).isNegInfinity) // -0.0
    assert(Seq.empty[Double].toDF("x")
      .select(expr("graft_product(x)")).head.isNullAt(0))
    assert(Seq[Option[Double]](None).toDF("x")
      .select(expr("graft_product(x)")).head.isNullAt(0))
    // entropy: log2 frequencies, NULLs skipped, empty 0.0 (not NULL)
    val e = Seq(Some("a"), Some("b"), Some("b"), None).toDF("x")
    assert(math.abs(e.select(expr("graft_entropy(x)")).head.getDouble(0)
      - 0.9182958340544893) < 1e-12)
    assert(Seq.empty[String].toDF("x")
      .select(expr("graft_entropy(x)")).head.getDouble(0) == 0.0)
    // histogram: keys ascending, NULLs skipped, empty NULL; JSON form is
    // what declared queries compare
    val h = Seq(Some(3), Some(1), Some(2), Some(2), None).toDF("x")
    assert(h.select(expr("to_json(graft_histogram(x))")).head.getString(0)
      == """{"1":1,"2":2,"3":1}""")
    assert(Seq.empty[Int].toDF("x")
      .select(expr("graft_histogram(x)")).head.isNullAt(0))
    // string keys sort as strings
    val hs = Seq("b", "a", "a").toDF("x")
    assert(hs.select(expr("to_json(graft_histogram(x))")).head.getString(0)
      == """{"a":2,"b":1}""")
  }

  test("graft_dec_cast pins duck's input-type-dispatched decimal cast (r13)") {
    import spark.implicits._
    val df = Seq(1).toDF("x")
    def s(e: String): String = df.select(expr(s"CAST($e AS STRING)")).head.getString(0)
    // DECIMAL source downscale TRUNCATES toward zero (r16 default —
    // MEASURED: the r15 q236-q241 fingerprint came back R G R R R R,
    // the pre-registered truncate signature, unique in the candidate
    // table.)
    assert(s("graft_dec_cast(CAST(1.256 AS DECIMAL(8,3)), 8, 1)") == "1.2")
    assert(s("graft_dec_cast(CAST(-1.256 AS DECIMAL(8,3)), 8, 1)") == "-1.2")
    assert(s("graft_dec_cast(CAST(2.5 AS DECIMAL(4,1)), 8, 0)") == "2")
    assert(s("graft_dec_cast(CAST(3.5 AS DECIMAL(4,1)), 8, 0)") == "3")
    assert(s("graft_dec_cast(CAST(-2.5 AS DECIMAL(4,1)), 8, 0)") == "-2")
    assert(s("graft_dec_cast(CAST(1.24 AS DECIMAL(8,3)), 8, 1)") == "1.2")
    // the 1.0.0 replica truncates too
    spark.conf.set("spark.graft.replicaMode", "true")
    try {
      assert(s("graft_dec_cast(CAST(1.256 AS DECIMAL(8,3)), 8, 1)") == "1.2")
      assert(s("graft_dec_cast(CAST(-1.256 AS DECIMAL(8,3)), 8, 1)") == "-1.2")
      assert(s("graft_dec_cast(CAST(3.5 AS DECIMAL(4,1)), 8, 0)") == "3")
    } finally spark.conf.unset("spark.graft.replicaMode")
    // upscale is exact and keeps duck's trailing-zero rendering
    assert(s("graft_dec_cast(CAST(1.5 AS DECIMAL(4,1)), 6, 3)") == "1.500")
    // DOUBLE source, r16 default RENDER (MEASURED — VERDICT r15 #1b:
    // the only model consistent with the full q242-q247 driver
    // vector): shortest-decimal-string render, then the VARCHAR
    // half-away parse on the first excess digit. 0.145 renders
    // "0.145" → 0.15 (the exact binary value is 0.1449999… but duck
    // parses the RENDERED string); 15.085 → "15.085" → 15.09 (the FP
    // product 1508.4999… would say 15.08); exact ties go AWAY
    // (2.5 → 3, 0.125 → 0.13); the sub-half control 0.144999999
    // renders all its digits and stays 0.14
    assert(s("graft_dec_cast(CAST(0.145 AS DOUBLE), 8, 2)") == "0.15")
    assert(s("graft_dec_cast(CAST(0.144999999 AS DOUBLE), 8, 2)") == "0.14")
    assert(s("graft_dec_cast(CAST(2.675 AS DOUBLE), 10, 2)") == "2.68")
    assert(s("graft_dec_cast(CAST(15.085 AS DOUBLE), 10, 2)") == "15.09")
    assert(s("graft_dec_cast(CAST(31.415 AS DOUBLE), 10, 2)") == "31.42")
    assert(s("graft_dec_cast(CAST(2.5 AS DOUBLE), 8, 0)") == "3")
    assert(s("graft_dec_cast(CAST(-2.5 AS DOUBLE), 8, 0)") == "-3")
    assert(s("graft_dec_cast(CAST(4.5 AS DOUBLE), 8, 0)") == "5")
    assert(s("graft_dec_cast(CAST(0.125 AS DOUBLE), 8, 2)") == "0.13")
    // FLOAT source renders at FLOAT width (grisu3-binary32 digits)
    assert(s("graft_dec_cast(CAST(0.145 AS FLOAT), 8, 2)") == "0.15")
    // capacity edge survives: 99.99 renders "99.99", fits (4,2)
    assert(s("graft_dec_cast(CAST(99.99 AS DOUBLE), 4, 2)") == "99.99")
    assert(s("graft_round_dbl(CAST(0.145 AS DOUBLE), 2)") == "0.14")
    // 1.0.0-replica epsilon model behind replicaMode
    spark.conf.set("spark.graft.replicaMode", "true")
    try {
      assert(s("graft_dec_cast(CAST(0.145 AS DOUBLE), 8, 2)") == "0.15")
      assert(s("graft_dec_cast(CAST(2.5 AS DOUBLE), 8, 0)") == "3")
      assert(s("graft_dec_cast(CAST(2.675 AS DOUBLE), 10, 2)") == "2.68")
    } finally spark.conf.unset("spark.graft.replicaMode")
    // VARCHAR source: parse + HALF_UP (duck: '1.255' → 1.26)
    assert(s("graft_dec_cast('1.255', 8, 2)") == "1.26")
    // integral exact
    assert(s("graft_dec_cast(7, 4, 2)") == "7.00")
    // out-of-range: loud on the plain form, NULL on the try twin
    intercept[Exception] {
      df.select(expr("graft_dec_cast(CAST(999.99 AS DECIMAL(5,2)), 4, 2)")).collect()
    }
    assert(df.select(expr("graft_dec_cast_try(CAST(999.99 AS DECIMAL(5,2)), 4, 2)"))
      .head.isNullAt(0))
    assert(df.select(expr("graft_dec_cast_try(CAST('nan' AS DOUBLE), 8, 2)"))
      .head.isNullAt(0))
    assert(df.select(expr("graft_dec_cast_try('abc', 8, 2)")).head.isNullAt(0))
  }

  test("graft_intdiv_exact: INT128-scale trunc division, duck's hugeint // (r13)") {
    import spark.implicits._
    val df = Seq(1).toDF("x")
    def s(e: String): String = df.select(expr(s"CAST($e AS STRING)")).head.getString(0)
    // exact past 2^53 (the double path lost these digits)
    assert(s("graft_intdiv_exact(CAST('99999999999999999999999' AS DECIMAL(38,0)), -7)")
      == "-14285714285714285714285")
    assert(s("graft_intdiv_exact(CAST('4611686018427387904' AS DECIMAL(38,0)), 3)")
      == "1537228672809129301")
    // trunc toward zero, duck convention
    assert(s("graft_intdiv_exact(-10, 3)") == "-3")
    assert(s("graft_intdiv_exact(7, -7)") == "-1")
    // zero divisor → NULL
    assert(df.select(expr("graft_intdiv_exact(5, 0)")).head.isNullAt(0))
    // fractional operand means the slice was not hugeint//hugeint —
    // plain double division like duck's DECIMAL //
    assert(df.select(expr("graft_intdiv_exact(CAST(7.5 AS DOUBLE), 2)"))
      .head.getDouble(0) == 3.75)
  }

  test("graft_double_str pins duck's double→varchar rendering matrix (r13)") {
    import spark.implicits._
    val df = Seq(1).toDF("x")
    def s(e: String): String =
      df.select(expr(s"graft_double_str(CAST($e AS DOUBLE))")).head.getString(0)
    assert(s("99999999.99") == "99999999.99")
    assert(s("12345678.5") == "12345678.5") // Spark's cast says 1.23456785E7
    assert(s("1e15") == "1000000000000000.0")
    assert(s("1e16") == "1e+16")
    assert(s("1e20") == "1e+20")
    assert(s("0.0001") == "0.0001")
    assert(s("1.5e-5") == "1.5e-05")
    assert(s("2.0") == "2.0")
    assert(s("-12345678.5") == "-12345678.5")
    // the LITERAL -0.0 reaches DOUBLE via DECIMAL and loses the sign
    // (both engines); a TRUE double -0.0 keeps it (r14 sweep)
    assert(s("-0.0") == "0.0")
    assert(df.select(expr(
      "graft_double_str(CAST(-1e-300 AS DOUBLE) * CAST(1e-300 AS DOUBLE))"))
      .head.getString(0) == "-0.0")
    assert(s("'nan'") == "nan")
    assert(s("'inf'") == "inf")
    assert(s("'-inf'") == "-inf")
    // float width uses float-shortest digits
    assert(df.select(expr("graft_double_str(CAST(0.1 AS FLOAT))"))
      .head.getString(0) == "0.1")
    assert(df.select(expr("graft_double_str(CAST(1e38 AS FLOAT))"))
      .head.getString(0) == "1e+38")
    // r14 (r13 ADVICE, medium): JDK 17's Double.toString is not
    // shortest for ~0.3% of doubles (JDK-4511638, mostly 1e17–1e19) —
    // the kernel minimizes digits itself. The advice's verified-vs-duck
    // example:
    assert(s("-2.6814475343671142e18") == "-2.681447534367114e+18")
    // r14 float path = duck's Grisu3-binary32 (double-conversion
    // semantics, fitted to 0/160k mismatches): float-shortest when
    // grisu certifies, the WIDENED double's shortest digits on
    // certification failure — duck is deliberately non-minimal there
    assert(df.select(expr("graft_double_str(CAST(3809327.75 AS FLOAT))"))
      .head.getString(0) == "3809327.75") // shortest would be 3809327.8
    assert(df.select(expr("graft_double_str(CAST(862008768 AS FLOAT))"))
      .head.getString(0) == "862008768.0") // shortest would be 86200877e1
    assert(df.select(expr("graft_double_str(CAST(123.456 AS FLOAT))"))
      .head.getString(0) == "123.456") // grisu-certified shortest
  }

  test("graft_double_str renders shortest round-trip digits (r14 property)") {
    // property over random doubles at the problem magnitudes and general:
    // (a) the render parses back to the same double; (b) minimality —
    // no prefix one digit shorter round-trips
    val rnd = new scala.util.Random(42)
    def mantissaDigits(sr: String): String = {
      val m = sr.stripPrefix("-").takeWhile(c => c != 'e')
      m.replace(".", "").reverse.dropWhile(_ == '0').reverse
    }
    val vals = (1 to 4000).map { i =>
      if (i % 3 == 0) rnd.nextLong().toDouble * rnd.nextDouble()
      else if (i % 3 == 1) (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(40) - 20)
      else java.lang.Double.longBitsToDouble(rnd.nextLong())
    }.filter(d => !d.isNaN && !d.isInfinite && d != 0.0)
    vals.foreach { d =>
      val sr = graft.functions.DoubleStr.fmtDouble(d)
      assert(java.lang.Double.parseDouble(sr) == d, s"round-trip failed: $d -> $sr")
      val digits = mantissaDigits(sr)
      if (digits.length > 1) {
        // minimality: truncating or rounding the last digit must break
        // the round-trip for at least one of the two neighbors to be
        // shortest... both neighbors failing is the strict condition
        val bd = new java.math.BigDecimal(sr.stripPrefix("-")).abs()
          .stripTrailingZeros()
        val p = bd.precision() - 1
        val shorterTrips = Seq(java.math.RoundingMode.FLOOR,
            java.math.RoundingMode.CEILING)
          .map(m => bd.round(new java.math.MathContext(p, m)))
          .exists(c => java.lang.Double.parseDouble(c.toString) == math.abs(d))
        assert(!shorterTrips, s"not shortest: $d -> $sr")
      }
    }
  }
}
