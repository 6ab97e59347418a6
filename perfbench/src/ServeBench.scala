package perfbench

import graft.engine.Engine
import graft.server.{HttpServer, QueryExecutor, TenantManager}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Serve-path benchmark: starts the unmodified [[graft.server.HttpServer]]
  * on a loopback ephemeral port and drives it in a closed loop with a JDK
  * HttpClient.
  *
  * {{{
  * ServeBench run --workload W --seed N --seconds S --trace 0|1
  *                --data DIR --manifest FILE --out FILE
  * ServeBench manifest --data DIR --out FILE
  * }}}
  *
  * `run` writes raw samples (and, traced, spans and Spark job counters) as
  * JSON to `--out`; `perfbench/run.py` turns them into metrics. */
object ServeBench {

  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opt = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = Engine.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", nproc.toString))
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val data = new File(opt("data")).getAbsoluteFile
    Fixtures.ensure(spark, data)
    val out: Map[String, Any] = args(0) match {
      case "manifest" => manifest(spark, data.getPath)
      case "run" => new Run(spark, data.getPath, opt, sessionS).apply()
    }
    mapper.writeValue(new File(opt("out")), out)
    spark.stop()
    // the server's request threads are not daemons
    sys.exit(0)
  }

  def startServer(spark: SparkSession, data: String): (HttpServer, Int) = {
    Engine.registerTables(spark, data)
    graft.functions.GraftFunctions.register(spark)
    val srv = new HttpServer(spark, 0)
    (srv, srv.start())
  }

  /** Runs `f` over `items` on `threads` threads, preserving order. */
  def parallel[A, B](items: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try items.map(a => pool.submit(() => f(a))).map(_.get())
    finally pool.shutdown()
  }

  def nanosToMs(ns: Long): Double = ns / 1e6

  // ---- eligibility manifest for read_mix / schema_probe --------------------

  /** Classifies every declared entry: static exclusions, in-process
    * failures, and entries that fail over HTTP but pass in-process
    * (recorded as defects). Eligible entries also get their ×2/×4 UNION ALL
    * composites checked for schema_probe. */
  def manifest(spark: SparkSession, data: String): Map[String, Any] = {
    val (srv, port) = startServer(spark, data)
    val client = Wire.client()
    val used, excluded, defects = ArrayBuffer[Map[String, Any]]()
    try Catalog.declared(data).foreach { case (name, sql) =>
      Catalog.staticExclusion(sql) match {
        case Some(why) => excluded += Map("name" -> name, "reason" -> why)
        case None =>
          val t0 = System.nanoTime()
          scala.util.Try {
            val df = Engine.sqlScript(spark, sql)
            Expect(df.rdd.count(), df.columns.toSeq)
          } match {
            case scala.util.Failure(e) =>
              excluded += Map("name" -> name,
                "reason" -> s"fails in-process: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("").take(160)}")
            case scala.util.Success(e) =>
              val inMs = nanosToMs(System.nanoTime() - t0)
              val s = Wire.send(client, port, Workloads.query("read", name, sql, "JSONCompact", e)).verified
              lazy val again = scala.util.Try(Engine.sqlScript(spark, sql).rdd.count()).getOrElse(-1L)
              if (s.ok) {
                val comp = Seq(2, 4).map { k =>
                  val c0 = System.nanoTime()
                  val ok = scala.util.Try(
                    Engine.sql(spark, Catalog.composite(sql, k)).limit(0).columns.toSeq == e.cols)
                    .getOrElse(false)
                  k.toString -> Map("ok" -> ok, "ms" -> nanosToMs(System.nanoTime() - c0))
                }.toMap
                used += Map("name" -> name, "rows" -> e.rows, "sql_bytes" -> sql.getBytes(UTF_8).length,
                  "in_process_ms" -> inMs, "http_ms" -> nanosToMs(s.t1 - s.t0), "body_bytes" -> s.bytes,
                  "composite" -> comp)
              } else if (again != e.rows)
                excluded += Map("name" -> name, "reason" -> s"nondeterministic row count (${e.rows}, $again)")
              else {
                val d = Map("name" -> name, "reason" -> s"defect: fails over HTTP, passes in-process: ${s.error}")
                excluded += d
                defects += d
              }
          }
      }
    } finally srv.stop()
    Map("used" -> used, "excluded" -> excluded, "defects" -> defects)
  }
}

/** One `run`: set-up (repeated), then the timed closed loop or the traced
  * replay. */
final class Run(spark: SparkSession, data: String, opt: Map[String, String], sessionS: Double) {
  import ServeBench._
  import Workloads._

  private val workload = opt("workload")
  private val seed = opt("seed").toLong
  private val seconds = opt("seconds").toDouble
  private val traced = opt.get("trace").contains("1")
  private val nproc = Runtime.getRuntime.availableProcessors()
  private val nClients = if (traced) 1 else clients(workload, nproc)
  /** Set-ups per run; `setup_s` takes their median. */
  private val repeats = if (traced) 1 else 3
  private val shadowTable = s"${ingestTable}_shadow"
  private val minTailSamples = 100

  private val manifestJson = mapper.readTree(new File(opt("manifest")))
  private val declared = Catalog.declared(data).toMap
  /** Eligible entries with their single-client HTTP time and size. */
  private val eligible = manifestJson.get("eligible").elements().asScala.toIndexedSeq
  private val compositeOk = manifestJson.get("composite_ok").elements().asScala.map(_.asText()).toSet
  private def byCost(field: String) = eligible.sortBy(e => (e.get(field).asDouble(), e.get("name").asText()))
    .map(e => e.get("name").asText()).map(n => n -> declared(n))

  /** Fixed pools: read_mix stratified on execution cost, schema_probe on
    * SQL size (what translate and analyze scale with). */
  private val pool = workload match {
    case "read_mix" => stratified(byCost("http_ms"), readPoolSize)
    case "schema_probe" => stratified(byCost("sql_bytes"), schemaPoolSize)
    case _ => IndexedSeq.empty
  }

  // ---- expected results, computed in-process ------------------------------

  private val expected = new Expected

  private def expectations(): Map[String, Expect] = {
    def shape(q: String, count: DataFrame => Long): Expect =
      try { val df = Engine.sqlScript(spark, q); Expect(count(df), df.columns.toSeq) }
      catch { case e: Throwable => Expect(-1, Nil, String.valueOf(e.getMessage).take(200)) }
    workload match {
      case "read_mix" => parallel(pool, nproc) { case (n, q) => n -> shape(q, _.rdd.count()) }.toMap
      case "schema_probe" => parallel(pool, nproc) { case (n, q) => n -> shape(q, _ => 0L) }.toMap
      case "ingest_watch" => Map.empty
    }
  }

  /** Request streams, one per client, as whole cycles. */
  private def generators(expect: Expected, s: Long): IndexedSeq[Iterator[Seq[Req]]] =
    workload match {
      case "read_mix" => (0 until nClients).map(c => readMix(pool, expect, s, c))
      case "schema_probe" =>
        val reqs = schemaRequests(pool, compositeOk, expect)
        (0 until nClients).map(c => cycles(reqs, new scala.util.Random(s * 1000003L + c)))
      case "ingest_watch" if traced =>
        // one client alternates a writer's and a reader's cycles
        val (w, r) = (writer(s, 0), reader(s, 1))
        IndexedSeq(Iterator.continually(w.next() ++ r.next()))
      case "ingest_watch" =>
        IndexedSeq(writer(s, 0), writer(s, 1), reader(s, 2), reader(s, 3))
    }

  /** Each distinct statement once, formats rotating. */
  private def warmupRequests(expect: Expected): Seq[Req] = workload match {
    case "read_mix" => pool.zipWithIndex.map { case ((n, q), i) =>
      query("read", n, q, formats(i % formats.size), expect(n)) }
    case "schema_probe" => schemaRequests(pool, compositeOk, expect)
    case "ingest_watch" => writer(seed, 0).next() ++ reader(seed, 1).next()
  }

  private def ddl(port: Int, sql: String): Unit = {
    val s = Wire.send(Wire.client(), port, Req("ddl", "POST", "/", sql.getBytes(UTF_8), auth = true,
      "NONE", sql, sql, _ => None))
    require(s.ok, s"set-up statement failed: $sql: ${s.error}")
  }

  private def freshIngestTables(port: Int): Unit = Seq(ingestTable, shadowTable).foreach { t =>
    ddl(port, s"DROP TABLE IF EXISTS $t")
    ddl(port, ingestDdl.replace(ingestTable, t))
  }

  /** One set-up: session, fixtures, server listening, one warm-up pass. */
  private def setupOnce(i: Int, expect: Expected): (HttpServer, Int, Double, Seq[Sample]) = {
    val t0 = System.nanoTime()
    val session = if (i == 0) spark else spark.newSession()
    val (srv, port) = startServer(session, data)
    if (workload == "ingest_watch") freshIngestTables(port)
    val warm = warmupRequests(expect)
    val samples = parallel(warm, math.max(1, math.min(nClients, warm.size))) { r =>
      Wire.send(Wire.client(), port, r) }
    if (workload == "ingest_watch") freshIngestTables(port)
    (srv, port, (System.nanoTime() - t0) / 1e9, samples)
  }

  def apply(): Map[String, Any] = {
    val setups = (0 until repeats).map(i => setupOnce(i, expected))
    setups.init.foreach(_._1.stop())
    val (srv, port, _, _) = setups.last
    val measured = try { if (traced) new Traced(port, expected).apply() else timed(port, expected) }
      finally srv.stop()
    // reference results, computed in-process once the server is idle
    val e0 = System.nanoTime()
    expected.byKey = expectations()
    val expectS = (System.nanoTime() - e0) / 1e9
    def verify(rows: Any): Seq[Seq[Any]] =
      rows.asInstanceOf[Seq[Sample]].map(s => sampleRow(s.verified))
    val warmups = setups.flatMap(_._4).map(_.verified)
    val base = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "nproc" -> nproc, "clients" -> nClients,
      "spark_graft_cpus" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_version" -> spark.version,
      "session_s" -> sessionS, "expect_s" -> expectS,
      "server_setup_s" -> setups.map(_._3),
      "warmups" -> warmups.map(sampleRow))
    base ++ measured.map {
      case (k @ ("samples" | "untraced"), v) => k -> verify(v)
      case kv => kv
    }
  }

  private def sampleRow(s: Sample): Seq[Any] =
    Seq(s.cls, s.key, nanosToMs(s.ttfb - s.t0), nanosToMs(s.t1 - s.t0), s.status, s.bytes, s.rows,
      s.ok, s.error)

  private def stealJiffies(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val cpu = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (cpu.sum, if (cpu.length > 7) cpu(7) else 0L)
    } finally f.close()
  }

  /** Used heap after a full collection, in MB. */
  private def heapRetainedMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def tableFiles(table: String): Int = {
    val db = new TenantManager(spark).tenantDatabase(Some(Wire.tenant))
    val dir = new File(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir") + "/")
      .resolve(s"$db.db/$table"))
    Option(dir.listFiles()).getOrElse(Array.empty).count(_.getName.endsWith(".parquet"))
  }

  private def endState(): Map[String, Any] = Map(
    "heap_retained_mb" -> heapRetainedMb(),
    "persisted_rdds_end" -> spark.sparkContext.getPersistentRDDs.size,
    "table_files" -> (if (workload == "ingest_watch") tableFiles(ingestTable) else 0))

  // ---- untraced closed loop ------------------------------------------------

  private def timed(port: Int, expect: Expected): Map[String, Any] = {
    val gens = generators(expect, seed)
    val acked = new Acked
    val (cpu0, steal0) = stealJiffies()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    // clients finish the cycle they are in; the window runs on past the
    // deadline until it holds the 100 samples a p90 needs (at most to
    // twice the deadline)
    val latencySamples = new java.util.concurrent.atomic.AtomicInteger()
    def more(): Boolean = {
      val now = System.nanoTime()
      now < deadline || (latencySamples.get < minTailSamples && now < t0 + 2 * (deadline - t0))
    }
    val perClient = parallel(gens.indices, nClients) { c =>
      val http = Wire.client()
      val out = ArrayBuffer[Sample]()
      while (more()) gens(c).next().foreach { r =>
        val s = Wire.send(http, port, r)
        if (s.ok && r.cls == "insert") acked.add(r)
        latencySamples.incrementAndGet()
        out += s
      }
      out.toSeq
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    val (cpu1, steal1) = stealJiffies()
    val finalChecks = if (workload == "ingest_watch") ingestFinal(port, acked) else Nil
    val (ackRows, _) = acked.snapshot
    Map("window_s" -> windowS,
      "steal_pct" -> (if (cpu1 > cpu0) 100.0 * (steal1 - steal0) / (cpu1 - cpu0) else 0.0),
      "acked_rows" -> ackRows,
      "samples" -> (perClient.flatten ++ finalChecks)) ++ endState()
  }

  /** Final count equals acknowledged rows; per-category sums equal the sums
    * sent. Each is one checked operation. */
  private def ingestFinal(port: Int, acked: Acked): Seq[Sample] = {
    val (rows, sums) = acked.snapshot
    val expected = categories.filter(sums.contains).map(c => s"$c,${sums(c)}\n").mkString
    def check(key: String, sql: String, want: String) =
      Req("final", "GET", s"/?query=${Wire.enc(sql)}&default_format=CSV", Array.emptyByteArray,
        auth = true, "CSV", key, sql, p =>
          if (p.head != want) Some(s"$key: got '${p.head.trim}', expected '${want.trim}'") else None)
    val http = Wire.client()
    Seq(check("final/count", pollCount, s"$rows\n"), check("final/sums", pollSums, expected))
      .map(Wire.send(http, port, _))
  }

  // ---- traced run: HTTP, then the same request replayed in-process ---------

  private final class Traced(port: Int, expect: Expected) {
    private val spans = new Spans
    private val jobs = new JobLog
    private val tenants = new TenantManager(spark)
    private val translates = ArrayBuffer[Seq[Any]]()
    private val requests = ArrayBuffer[Seq[Any]]()

    private val sink = java.io.OutputStream.nullOutputStream()

    private def phases(i: Int, df: DataFrame): Unit =
      df.queryExecution.tracker.phases.foreach { case (name, p) =>
        val short = name match {
          case "parsing" => "parse"; case "analysis" => "analyze"
          case "optimization" => "optimize"; case "planning" => "plan"; case o => o
        }
        spans.add(i, -1, s"spark.$short", p.startTimeMs * 1000000L, p.endTimeMs * 1000000L)
      }

    /** Translate timed on its own, placed at the start of the engine span
      * that contains the real translation. */
    private def translate(i: Int, r: Req, session: SparkSession, engineSpan: Int): Unit = {
      val t0 = System.nanoTime()
      graft.dialect.Translator.translate(r.sql,
        name => scala.util.Try(session.table(name).schema.fieldNames.toSeq).toOption)
      val ns = System.nanoTime() - t0
      translates += Seq(i, r.key, r.sql.getBytes(UTF_8).length, ns / 1e6)
      spans.rows.find(_._2 == engineSpan).foreach { e =>
        spans.add(i, engineSpan, "dialect.translate", e._5, math.min(e._6, e._5 + ns))
      }
    }

    /** Replays `r` inside a `replay` span through the calls its handler
      * makes. Spark's planning phases and the separate translate are
      * recorded after that span closes, so they add nothing to it. */
    private def replay(i: Int, r: Req): Unit = {
      var eng = 0
      var session: SparkSession = null
      val dfs = spans.span(i, 0, "replay") { root =>
        session = spans.span(i, root, "server.session") { _ =>
          tenants.sessionFor(if (r.auth) Some(Wire.tenant) else None, None) }
        def in = new java.io.ByteArrayInputStream(r.body)
        def prepare[T](f: => T): T = spans.span(i, root, "engine.prepare") { id => eng = id; f }
        r.cls match {
          case "insert" if r.format == "ARROW" =>
            spans.span(i, root, "flight.do_exchange")(_ =>
              graft.flight.FlightActions.doExchange(session, shadowTable, in))
            Nil
          case "insert" =>
            spans.span(i, root, "ingest.ndjson")(_ => QueryExecutor.runInsertStream(session, shadowTable, in))
            Nil
          case "info" =>
            val (df, lim) = prepare { val df = Engine.sql(session, r.sql); (df, df.limit(0)) }
            spans.span(i, root, "arrowio.schema")(_ => graft.arrowio.ArrowIO.toArrowStream(lim))
            Seq(df, lim)
          case _ if r.format == "ARROW" =>
            val sql = spans.span(i, root, "flight.parse_ticket")(_ =>
              graft.flight.FlightActions.parseTicket(r.body))
            val df = prepare(Engine.sqlScript(session, sql))
            spans.span(i, root, "arrowio.do_get")(_ => graft.arrowio.ArrowIO.toArrowStreamTo(df, sink))
            Seq(df)
          case _ =>
            val p = prepare(QueryExecutor.prepare(session, r.sql, r.format))
              .fold(e => throw new IllegalStateException(s"in-process prepare failed: $e"), identity)
            spans.span(i, root, "formats.encode")(_ =>
              graft.formats.Encoders.encodeTo(p.df, p.format, p.t0, sink))
            Seq(p.df)
        }
      }
      dfs.foreach(phases(i, _))
      if (eng != 0) translate(i, r, session, eng)
    }

    def apply(): Map[String, Any] = {
      val http = Wire.client()
      // untraced 1-client pass over the prefix, then the traced pass
      val plain = ArrayBuffer[Sample]()
      val g0 = generators(expect, seed).head.flatten
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < seconds * 0.3e9) plain += Wire.send(http, port, g0.next())
      spark.sparkContext.addSparkListener(jobs)
      val g1 = generators(expect, seed).head.flatten
      val tracedHttp = ArrayBuffer[Sample]()
      val t1 = System.nanoTime()
      var i = 0
      while (i < plain.size && System.nanoTime() - t1 < seconds * 0.7e9) {
        i += 1
        val r = g1.next()
        val s = Wire.send(http, port, r)
        tracedHttp += s
        requests += Seq(i, r.cls, r.key, r.format, s.bytes, s.rows, nanosToMs(s.t1 - s.t0), s.ok)
        if (s.ok && r.cls != "replay") replay(i, r)
      }
      org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(jobs)
      Map("untraced" -> plain.toSeq, "samples" -> tracedHttp.toSeq,
        "requests" -> requests, "translates" -> translates,
        "spans" -> spans.rows.map(r => Seq(r._1, r._2, r._3, r._4, r._5, r._6)),
        "jobs" -> jobs.jobs.values().asScala.toSeq.sortBy(_.id).map(j => Seq(j.id, j.start * 1000000L,
          j.end * 1000000L, j.stagesRun, j.tasks, j.runMs, j.cpuNs / 1e6, j.shuffleRead, j.shuffleWrite,
          j.spill))) ++ endState()
    }
  }
}
