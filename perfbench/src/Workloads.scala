package perfbench

import graft.DeclaredQueries
import graft.dialect.Sanitizer
import java.nio.charset.StandardCharsets.UTF_8
import scala.util.Random

/** Expected shape of a read result, computed in-process; `error` is set
  * when the in-process reference itself failed. */
final case class Expect(rows: Long, cols: Seq[String], error: String = "")

/** In-process reference results, filled after the timed window so that
  * computing them neither delays nor warms the measured server. */
final class Expected {
  @volatile var byKey: Map[String, Expect] = Map.empty
  def apply(key: String): Expect = byKey.getOrElse(key, Expect(-1, Nil, s"no in-process result for $key"))
}

/** The declared query corpus as the server would receive it. */
object Catalog {

  /** `DeclaredQueries.all` plus the engine side of `asymmetric`, paths
    * pointed at `dir`. */
  def declared(dir: String): Seq[(String, String)] =
    (DeclaredQueries.all ++ DeclaredQueries.asymmetric.map { case (n, (engine, _)) => n -> engine })
      .map { case (n, q) => n -> DeclaredQueries.forDir(q, dir).trim.stripSuffix(";").trim }

  private val writeRe = ("(?is)^\\s*\\(?\\s*(CREATE|DROP|ALTER|INSERT|UPDATE|DELETE|MERGE|TRUNCATE|COPY|" +
    "PRAGMA|CALL|PREPARE|EXECUTE|DEALLOCATE|ATTACH|DETACH|USE|SET|RESET|EXPORT|IMPORT|" +
    "CHECKPOINT|VACUUM|INSTALL|LOAD|BEGIN|COMMIT|ROLLBACK|COMMENT)\\b.*").r
  private val macroRe = "(?is).*\\bMACRO\\b.*".r
  private val spliceRe =
    "(?is).*\\b(SUMMARIZE|duckdb_tables|duckdb_columns|duckdb_functions|pragma_\\w+|information_schema)\\b.*".r

  /** Why an entry cannot be replayed concurrently as read-only traffic,
    * judged from its text alone. */
  def staticExclusion(sql: String): Option[String] =
    if (Sanitizer.splitStatements(sql).size > 1) Some("multi-statement")
    else if (writeRe.pattern.matcher(sql).matches() || macroRe.pattern.matcher(sql).matches())
      Some("DDL, DML, COPY, PRAGMA, PREPARE or MACRO")
    else if (spliceRe.pattern.matcher(sql).matches())
      Some("session-state splice (SUMMARIZE, duckdb_tables(), pragma_*, information_schema)")
    else None

  /** `k` copies of one statement joined by UNION ALL. */
  def composite(sql: String, k: Int): String =
    Seq.fill(k)(s"($sql)").mkString("\nUNION ALL\n")
}

/** Seeded request generators, one per closed-loop client. Each generator
  * draws only from the distinct requests its workload declares, so each
  * can be warmed once and checked against one in-process result. */
object Workloads {
  def clients(w: String, nproc: Int): Int = w match {
    case "read_mix" | "schema_probe" => math.min(4, nproc)
    case "ingest_watch" => 4 // 2 writers + 2 readers
  }

  /** ClickHouse formats over `/`, plus Arrow IPC over `/flight/do_get`. */
  val formats: Seq[String] = Seq("JSONCompact", "JSON", "JSONEachRow", "CSV", "TSV", "ARROW")
  /** SQL longer than this goes as the POST body instead of `?query=`. */
  val getLimit = 512

  def expectRows(e: => Expect)(p: Parsed): Option[String] =
    if (e.error.nonEmpty) Some(s"in-process reference failed: ${e.error}")
    else if (p.rows != e.rows) Some(s"rows ${p.rows} != expected ${e.rows}")
    else if (p.cols.nonEmpty && e.rows > 0 && p.cols.distinct != e.cols.distinct)
      Some(s"columns ${p.cols.mkString(",")} != expected ${e.cols.mkString(",")}")
    else None

  def expectCols(e: => Expect)(p: Parsed): Option[String] =
    if (e.error.nonEmpty) Some(s"in-process reference failed: ${e.error}")
    else if (p.cols != e.cols) Some(s"schema ${p.cols.mkString(",")} != expected ${e.cols.mkString(",")}")
    else None

  /** A read whose rows and columns are checked against `e`, deferred. */
  def query(cls: String, key: String, sql: String, format: String, e: => Expect,
      queryId: Option[String] = None): Req = {
    val qid = queryId.map(id => s"&query_id=$id").getOrElse("")
    val check: Parsed => Option[String] = expectRows(e)
    if (format == "ARROW")
      Req(cls, "POST", "/flight/do_get", sql.getBytes(UTF_8), auth = false, format, key, sql, check,
        deferred = true)
    else if (sql.length <= getLimit)
      Req(cls, "GET", s"/?query=${Wire.enc(sql)}&default_format=$format$qid", Array.emptyByteArray,
        auth = false, format, key, sql, check, deferred = true)
    else
      Req(cls, "POST", s"/?default_format=$format$qid", sql.getBytes(UTF_8), auth = false, format, key,
        sql, check, deferred = true)
  }

  /** Seeded shuffles of `items`, one per cycle. Clients run whole cycles,
    * so every run sends each item equally often whatever the seed. */
  def cycles[T](items: IndexedSeq[T], rnd: Random): Iterator[IndexedSeq[T]] =
    Iterator.continually(rnd.shuffle(items))

  /** The middle entry of each of `k` equal strata of `items` (ordered by
    * cost): a fixed pool with the corpus's cost profile, so runs with
    * different seeds differ in order and format, not in what they run. */
  def stratified[T](items: IndexedSeq[T], k: Int): IndexedSeq[T] =
    (0 until math.min(k, items.size)).map(i => items(((2 * i + 1) * items.size) / (2 * k)))

  // ---- read_mix ------------------------------------------------------------

  val readPoolSize = 12

  /** Closed-loop read traffic over the pool in seeded order. Formats
    * rotate; every tenth ClickHouse-format request carries a `query_id`
    * and is followed by its replay. */
  def readMix(pool: IndexedSeq[(String, String)], expect: Expected, seed: Long,
      client: Int): Iterator[Seq[Req]] = {
    val rnd = new Random(seed * 1000003L + client)
    var n, m = 0
    cycles(pool, rnd).map(_.flatMap { case (name, sql) =>
      val fmt = formats(n % formats.size)
      def e = expect(name)
      n += 1
      if (fmt != "ARROW") m += 1
      if (fmt != "ARROW" && m % 10 == 0) {
        val id = s"s$seed-c$client-$n"
        Seq(query("read", name, sql, fmt, e, Some(id)),
          Req("replay", "GET", s"/?query_id=$id", Array.emptyByteArray, auth = false, fmt,
            s"replay:$name", "", expectRows(e), deferred = true))
      } else Seq(query("read", name, sql, fmt, e))
    })
  }

  // ---- schema_probe --------------------------------------------------------

  val schemaPoolSize = 24
  val compositeCount = 6

  /** Distinct schema requests: the pool's entries alone, plus ×2 and ×4
    * UNION ALL composites (alternating) of every fourth pool entry that
    * the manifest found valid as a composite — one request in five. */
  def schemaRequests(pool: IndexedSeq[(String, String)], compositeOk: Set[String],
      expect: Expected): IndexedSeq[Req] = {
    val comps = pool.filter(p => compositeOk.contains(p._1)).zipWithIndex
      .collect { case ((n, q), i) if i % 4 == 1 => (n, q) }.take(compositeCount)
      .zipWithIndex.map { case ((n, q), i) =>
        val k = if (i % 2 == 0) 2 else 4
        info(s"$n*$k", Catalog.composite(q, k), expect(n))
      }
    pool.map { case (n, q) => info(n, q, expect(n)) } ++ comps
  }

  def info(key: String, sql: String, e: => Expect): Req =
    Req("info", "POST", "/flight/info", sql.getBytes(UTF_8), auth = false, "ARROW", key, sql,
      expectCols(e), deferred = true)

  // ---- ingest_watch --------------------------------------------------------

  val ingestTable = "concurrent_test"
  val ingestDdl: String =
    s"CREATE TABLE $ingestTable (batch_id BIGINT, timestamp VARCHAR, value DOUBLE, category VARCHAR)"
  val categories: Seq[String] = Seq("A", "B", "C", "D")
  val batchRows = 1000
  val ingestCols: Seq[String] = Seq("batch_id", "timestamp", "value", "category")

  /** Ingest state shared by writers and readers: rows and per-category
    * value sums the server acknowledged. */
  final class Acked {
    private var rows = 0L
    private val sums = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    def add(r: Req): Unit = synchronized {
      rows += r.rowsSent
      r.valueSum.foreach { case (c, v) => sums(c) += v }
    }
    def snapshot: (Long, Map[String, Long]) = synchronized((rows, sums.toMap))
  }

  /** 1,000-row batch: integral values so per-category sums compare exactly. */
  def batch(rnd: Random, batchId: Long): Seq[(Long, String, Long, String)] =
    (0 until batchRows).map { i =>
      (batchId, f"2024-01-01T00:${i / 60 % 60}%02d:${i % 60}%02d", rnd.nextInt(1000).toLong,
        categories(rnd.nextInt(categories.size)))
    }

  def insertReq(kind: Int, table: String, rows: Seq[(Long, String, Long, String)]): Req = {
    val sums = rows.groupBy(_._4).map { case (c, rs) => c -> rs.map(_._3).sum }
    val (path, body, fmt, key) = kind % 3 match {
      case 0 =>
        val nd = rows.map { case (b, t, v, c) =>
          s"""{"batch_id":$b,"timestamp":"$t","value":$v,"category":"$c"}""" }.mkString("\n")
        (s"/?query=${Wire.enc(s"INSERT INTO $table")}", nd.getBytes(UTF_8), "NONE", "insert/ndjson")
      case 1 => (s"/flight/do_put?table=$table", Wire.arrowBatch(rows), "ARROW", "insert/do_put")
      case _ => (s"/flight/do_exchange?table=$table", Wire.arrowBatch(rows), "ARROW", "insert/do_exchange")
    }
    val check: Parsed => Option[String] =
      if (fmt == "ARROW") p => if (p.firstCell != rows.size.toString)
        Some(s"rows_inserted=${p.firstCell} != ${rows.size}") else None
      else _ => None
    Req("insert", "POST", path, body, auth = true, fmt, key, s"INSERT INTO $table", check,
      rows.size.toLong, sums)
  }

  /** Writer: rotates NDJSON insert, do_put and do_exchange. */
  /** Writer: each cycle sends one NDJSON insert, one do_put and one
    * do_exchange. */
  def writer(seed: Long, client: Int, table: String = ingestTable): Iterator[Seq[Req]] = {
    val rnd = new Random(seed * 1000003L + client)
    Iterator.from(0).map(c => (0 until 3).map { i =>
      val k = 3 * c + i
      insertReq(k + client, table, batch(rnd, client * 1000000L + k))
    })
  }

  def pollCount: String = s"SELECT count(*) AS n FROM $ingestTable"
  def pollSample: String = s"SELECT * FROM $ingestTable ORDER BY random() LIMIT 1"
  def pollSums: String =
    s"SELECT category, CAST(sum(value) AS BIGINT) AS s FROM $ingestTable GROUP BY category ORDER BY category"

  /** Reader: each cycle polls the count (which must never decrease), a
    * random row and the per-category sums, in seeded order. */
  def reader(seed: Long, client: Int): Iterator[Seq[Req]] = {
    val rnd = new Random(seed * 1000003L + client)
    var last = 0L
    def get(sql: String, fmt: String, key: String)(check: Parsed => Option[String]) =
      Req("poll", "GET", s"/?query=${Wire.enc(sql)}&default_format=$fmt", Array.emptyByteArray,
        auth = true, fmt, key, sql, check)
    val polls = IndexedSeq(
      get(pollCount, "CSV", "poll/count") { p =>
        val n = scala.util.Try(p.firstCell.trim.toLong).getOrElse(-1L)
        if (p.rows != 1 || n < 0) Some(s"count poll returned '${p.firstCell}'")
        else if (n < last) Some(s"count went back from $last to $n")
        else { last = n; None }
      },
      get(pollSample, "JSONCompact", "poll/sample") { p =>
        if (p.rows > 1 || p.cols != ingestCols) Some(s"sample poll: ${p.rows} rows ${p.cols}") else None
      },
      get(pollSums, "JSONCompact", "poll/sums") { p =>
        if (p.rows > categories.size) Some(s"sums poll: ${p.rows} rows") else None
      })
    cycles(polls, rnd)
  }
}
