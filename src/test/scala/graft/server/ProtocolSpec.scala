package graft.server

import graft.SparkTestBase
import graft.arrowio.ArrowIO
import graft.flight.{FlightActions, Msgpack}
import graft.formats.Encoders
import com.fasterxml.jackson.databind.ObjectMapper
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

class ProtocolSpec extends SparkTestBase {
  import spark.implicits._

  private val mapper = new ObjectMapper()

  test("JSONCompact envelope has the reference shape") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val node = mapper.readTree(new String(Encoders.encode(df, "JSONCompact", System.nanoTime()), "UTF-8"))
    assert(node.get("meta").get(0).get("name").asText() == "k")
    assert(node.get("meta").get(0).get("type").asText() == "Int64")
    assert(node.get("meta").get(1).get("type").asText() == "String")
    assert(node.get("data").get(0).isArray)
    assert(node.get("data").get(0).get(0).asLong() == 1L)
    assert(node.get("rows").asLong() == 2)
    assert(node.get("rows_before_limit_at_least").asLong() == 2)
    assert(node.get("statistics").has("elapsed"))
    assert(node.get("statistics").has("rows_read"))
    assert(node.get("statistics").has("bytes_read"))
  }

  test("schema-aware map subscript: known MAP columns get DuckDB's list wrap") {
    import graft.engine.Engine
    // DuckDB 1.0 probe, pinned: m['a']=[1], m['z']=[], m[NULL]=[],
    // int-keyed m[0]=[v] (maps have no zero-index guard), VARCHAR-keyed
    // map with a DYNAMIC key evaluating to '0' returns the wrapped value
    // (formerly the documented zero-guard divergence).
    Engine.sql(spark,
      "CREATE OR REPLACE TEMP VIEW __mv AS SELECT MAP {'a': 1, '0': 7} AS m, MAP {0: 'y'} AS im, 'a' AS k")
    def one(q: String): Any = Engine.sql(spark, q).head.get(0)
    assert(one("SELECT m['a'] FROM __mv") == Seq(1))
    assert(one("SELECT m['z'] FROM __mv") == Seq())
    assert(one("SELECT m[k] FROM __mv") == Seq(1))
    assert(one("SELECT m[CAST(NULL AS VARCHAR)] FROM __mv") == Seq())
    assert(one("SELECT im[0] FROM __mv") == Seq("y"))
    assert(one("SELECT m[substr('0z', 1, 1)] FROM __mv") == Seq(7))
    // arrays keep the zero-guard path (q132's declared semantics)
    Engine.sql(spark,
      "CREATE OR REPLACE TEMP VIEW __av AS SELECT [10, 20] AS xs")
    assert(one("SELECT xs[1] FROM __av") == 10)
    assert(one("SELECT xs[0] FROM __av") == null)
    spark.catalog.dropTempView("__mv")
    spark.catalog.dropTempView("__av")
    Engine.bumpCatalogVersion()
  }

  test("JSON envelope uses row objects") {
    val df = Seq((1L, "a")).toDF("k", "v")
    val node = mapper.readTree(new String(Encoders.encode(df, "JSON", System.nanoTime()), "UTF-8"))
    assert(node.get("data").get(0).get("k").asLong() == 1L)
    assert(node.get("data").get(0).get("v").asText() == "a")
    assert(!node.has("rows_before_limit_at_least")) // main.py:163-181 omits it
  }

  test("JSONEachRow is one object per line") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val lines = new String(Encoders.encode(df, "JSONEachRow", System.nanoTime()), "UTF-8").trim.split('\n')
    assert(lines.length == 2)
    assert(mapper.readTree(lines(0)).get("k").asLong() == 1L)
  }

  test("JSONCompactColumns is column-oriented") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val node = mapper.readTree(new String(Encoders.encode(df, "JSONCompactColumns", System.nanoTime()), "UTF-8"))
    assert(node.get(0).get(0).asLong() == 1L)
    assert(node.get(0).get(1).asLong() == 2L)
    assert(node.get(1).get(0).asText() == "a")
  }

  test("CSV/TSV with null and quoting rules") {
    val df = Seq((Some("x,y"), 1L), (None, 2L)).toDF("s", "k")
    val csv = new String(Encoders.encode(df, "CSVWithNames", System.nanoTime()), "UTF-8")
    val lines = csv.trim.split('\n')
    assert(lines(0) == "s,k")
    assert(lines(1) == "\"x,y\",1")
    assert(lines(2) == "\\N,2")
  }

  test("ResultCache evicts LRU beyond 10") {
    val c = new ResultCache
    (1 to 12).foreach(i => c.put(s"q$i", Array(i.toByte)))
    assert(c.size == 10)
    assert(c.get("q1").isEmpty && c.get("q2").isEmpty)
    assert(c.get("q12").nonEmpty)
  }

  test("ResultCache is bounded in bytes: LRU eviction past the cap, over-cap results not kept") {
    val c = new ResultCache
    val third = new Array[Byte]((ResultCache.maxBytes / 3).toInt)
    Seq("a", "b", "c").foreach(c.put(_, third))
    assert(c.size == 3)
    c.get("a") // touch: b is now the least recently used
    c.put("d", Array.fill(1024)(1.toByte))
    assert(c.get("b").isEmpty && c.size == 3)
    assert(Seq("a", "c", "d").forall(c.get(_).nonEmpty))
    // a result over the cap is not kept, and drops an older value of its id
    c.put("a", new Array[Byte]((ResultCache.maxBytes + 1).toInt))
    assert(c.get("a").isEmpty && c.get("c").nonEmpty && c.get("d").nonEmpty)
  }

  test("tenant hash is deterministic and anonymous maps to default") {
    val tm = new TenantManager(spark)
    assert(tm.tenantDatabase(None) == "default")
    val a = tm.tenantDatabase(Some(("alice", "pw")))
    assert(a == tm.tenantDatabase(Some(("alice", "pw"))))
    assert(a != tm.tenantDatabase(Some(("bob", "pw"))))
    assert(a.startsWith("tenant_"))
  }

  test("auth header parsing: Basic and Bearer") {
    val tm = new TenantManager(spark)
    val b64 = java.util.Base64.getEncoder.encodeToString("u:p".getBytes)
    assert(tm.parseAuthHeader(Some(s"Basic $b64")).contains(("u", "p")))
    assert(tm.parseAuthHeader(Some("Bearer u:p")).contains(("u", "p")))
    assert(tm.parseAuthHeader(None).isEmpty)
  }

  test("ticket parsing: raw SQL, JSON, double-encoded JSON") {
    assert(FlightActions.parseTicket("SELECT 1".getBytes) == "SELECT 1")
    assert(FlightActions.parseTicket("""{"query": "SELECT 2"}""".getBytes) == "SELECT 2")
    assert(FlightActions.parseTicket("\"{\\\"query\\\": \\\"SELECT 3\\\"}\"".getBytes) == "SELECT 3")
  }

  test("msgpack round-trip") {
    import Msgpack._
    val v = obj("a" -> Num(42), "b" -> Str("hello"), "c" -> Arr(Seq(Bool(true), Nil)),
      "d" -> Bin(Array[Byte](1, 2, 3)), "e" -> Dbl(1.5))
    val back = unpack(pack(v)).asInstanceOf[MapV]
    val m = back.v.map { case (Str(k), x) => k -> x; case x => throw new MatchError(x) }.toMap
    assert(m("a") == Num(42))
    assert(m("b") == Str("hello"))
    assert(m("e") == Dbl(1.5))
    assert(m("d").asInstanceOf[Bin].v.toSeq == Seq[Byte](1, 2, 3))
  }

  test("msgpack 32-bit formats round-trip (str/bin/array >= 64KiB)") {
    import Msgpack._
    val bigStr = "x" * 70000
    val bigBin = Array.fill[Byte](70000)(7)
    val bigArr = Arr((0 until 70000).map(i => Num(i.toLong): Value))
    val v = obj("s" -> Str(bigStr), "b" -> Bin(bigBin), "a" -> bigArr)
    val back = unpack(pack(v)).asInstanceOf[MapV]
    val m = back.v.map { case (Str(k), x) => k -> x; case x => throw new MatchError(x) }.toMap
    assert(m("s").asInstanceOf[Str].v == bigStr)
    assert(m("b").asInstanceOf[Bin].v.length == 70000)
    assert(m("a").asInstanceOf[Arr].v.length == 70000)
    assert(m("a").asInstanceOf[Arr].v(69999) == Num(69999))
  }

  test("anonymous ?database= request never mutates the shared session") {
    val tm = new TenantManager(spark)
    val before = spark.catalog.currentDatabase
    val s = tm.sessionFor(None, Some("adv_db_iso"))
    assert(s ne spark) // must be a clone
    assert(s.catalog.currentDatabase == "adv_db_iso")
    assert(spark.catalog.currentDatabase == before)
    // sessions are cached per (tenant, database) — repeated requests reuse
    assert(tm.sessionFor(None, Some("adv_db_iso")) eq s)
    assert(tm.sessionFor(None, Some("adv_db_other")) ne s)
    val t1 = tm.sessionFor(Some(("alice", "pw")))
    assert(tm.sessionFor(Some(("alice", "pw"))) eq t1)
    assert(tm.sessionFor(Some(("bob", "pw"))) ne t1)
  }

  test("macros are session-scoped: two tenants' same-name macros don't cross-contaminate") {
    // the reference gets this isolation free from per-connection DuckDB
    // catalogs; here the macro registry is keyed by SparkSession, and each
    // (tenant, database) gets its own cloned session
    val tm = new TenantManager(spark)
    val alice = tm.sessionFor(Some(("macro_alice", "pw")))
    val bob = tm.sessionFor(Some(("macro_bob", "pw")))
    graft.engine.Engine.sql(alice, "CREATE MACRO m_iso(x) AS x + 1")
    // bob doesn't see alice's macro at all — the call fails to resolve
    intercept[Exception] {
      graft.engine.Engine.sql(bob, "SELECT m_iso(5) AS v").collect()
    }
    graft.engine.Engine.sql(bob, "CREATE MACRO m_iso(x) AS x * 10")
    assert(graft.engine.Engine.sql(alice, "SELECT m_iso(5) AS v").head.get(0).toString == "6")
    assert(graft.engine.Engine.sql(bob, "SELECT m_iso(5) AS v").head.get(0).toString == "50")
    // dropping bob's leaves alice's intact
    graft.engine.Engine.sql(bob, "DROP MACRO m_iso")
    assert(graft.engine.Engine.sql(alice, "SELECT m_iso(5) AS v").head.get(0).toString == "6")
    graft.engine.Engine.sql(alice, "DROP MACRO m_iso")
  }

  /** Table `t(id, v)` holding (1,10),(2,20) in the session's database; a
    * directory an earlier crashed run left behind is removed first. */
  private def freshTenantTable(s: org.apache.spark.sql.SparkSession): Unit = {
    s.sql("DROP TABLE IF EXISTS t")
    val db = s.catalog.getDatabase(s.catalog.currentDatabase)
    val dir = new java.io.File(new URI(db.locationUri).getPath, "t")
    if (dir.isDirectory) new scala.reflect.io.Directory(dir).deleteRecursively()
    graft.engine.Engine.sql(s,
      "CREATE TABLE t AS SELECT * FROM (VALUES (1, 10), (2, 20)) AS x(id, v)")
  }

  test("engine state is session-scoped: prepared statements, views and comments stay with their tenant") {
    import graft.engine.Engine
    // the reference routes each tenant to its own DuckDB connection, so
    // what one tenant PREPAREs, CREATEs as a view or COMMENTs ON is not
    // the other's; both tenants own a table `t`
    val tm = new TenantManager(spark)
    val a = tm.sessionFor(Some(("state_alice", "pw")))
    val b = tm.sessionFor(Some(("state_bob", "pw")))
    Seq(a, b).foreach(freshTenantTable)
    def rows(s: org.apache.spark.sql.SparkSession, q: String): Seq[String] =
      Engine.sql(s, q).collect().map(_.mkString(",")).toSeq
    try {
      // B cannot run A's prepared statement
      Engine.sql(a, "PREPARE p AS SELECT 41 + ? AS y")
      assert(rows(a, "EXECUTE p(1)") == Seq("42"))
      val e = intercept[Exception](Engine.sql(b, "EXECUTE p(1)").collect())
      assert(e.getMessage.contains("no prepared statement named"), e.getMessage)
      // A's view stays in A's catalog, and B's statements do not use up
      // A's re-resolution after A's UPDATE swapped `t`'s files
      Engine.sql(a, "CREATE VIEW v AS SELECT * FROM t")
      Engine.sql(a, "UPDATE t SET v = 11 WHERE id = 1").collect()
      Engine.sql(b, "SELECT 1").collect()
      assert(!b.catalog.tableExists("v"), "B's catalog holds A's view")
      assert(rows(a, "SELECT * FROM v ORDER BY id") == Seq("1,11", "2,20"))
      // A's comment is not on B's `t`
      Engine.sql(a, "COMMENT ON TABLE t IS 'alice secret'")
      val comment = "SELECT comment FROM duckdb_tables() WHERE table_name = 't'"
      assert(rows(a, comment) == Seq("alice secret"))
      assert(rows(b, comment) == Seq("null"))
    } finally {
      scala.util.Try(Engine.sql(a, "DEALLOCATE p"))
      scala.util.Try(Engine.sql(a, "DROP VIEW IF EXISTS v"))
      Seq(a, b).foreach(s => Engine.sql(s, "DROP TABLE IF EXISTS t"))
    }
  }

  test("HTTP: one Basic-auth tenant's PREPARE and CREATE VIEW are not another's") {
    val srv = new HttpServer(spark, 0)
    val port = srv.start()
    try {
      val client = HttpClient.newHttpClient()
      def post(user: String, sql: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:$port/?default_format=CSV"))
          .header("Authorization", "Basic " + java.util.Base64.getEncoder
            .encodeToString(s"$user:pw".getBytes("UTF-8")))
          .POST(HttpRequest.BodyPublishers.ofString(sql)).build(),
          HttpResponse.BodyHandlers.ofString())
      def ok(user: String, sql: String): String = {
        val r = post(user, sql)
        assert(r.statusCode() == 200, s"$user: $sql -> ${r.body()}")
        r.body().trim
      }
      ok("http_alice", "PREPARE hp AS SELECT 41 + ? AS y")
      assert(ok("http_alice", "EXECUTE hp(1)") == "42")
      val exec = post("http_bob", "EXECUTE hp(1)")
      assert(exec.statusCode() == 400 && exec.body().contains("no prepared statement named"),
        exec.body())
      ok("http_alice", "CREATE VIEW hv AS SELECT 7 AS x")
      assert(ok("http_alice", "SELECT x FROM hv") == "7")
      assert(post("http_bob", "SELECT x FROM hv").statusCode() == 400)
      ok("http_alice", "DROP VIEW hv")
      ok("http_alice", "DEALLOCATE hp")
    } finally srv.stop()
  }

  test("HTTP: a query_id result replays to its own tenant only") {
    val srv = new HttpServer(spark, 0)
    val port = srv.start()
    try {
      val client = HttpClient.newHttpClient()
      def get(user: String, pathAndQuery: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:$port$pathAndQuery"))
          .header("Authorization", "Basic " + java.util.Base64.getEncoder
            .encodeToString(s"$user:pw".getBytes("UTF-8"))).build(),
          HttpResponse.BodyHandlers.ofString())
      val q = java.net.URLEncoder.encode("SELECT 'alice private' AS s", "UTF-8")
      val first = get("qa_alice", s"/?query=$q&query_id=qx&default_format=CSV")
      assert(first.statusCode() == 200 && first.body().contains("alice private"), first.body())
      val bob = get("qa_bob", "/?query_id=qx")
      assert(bob.statusCode() == 404, bob.body())
      val replay = get("qa_alice", "/?query_id=qx")
      assert(replay.statusCode() == 200 && replay.body() == first.body())
    } finally srv.stop()
  }

  test("zstd envelope round-trip with 4-byte LE length prefix") {
    val payload = "payload-bytes".getBytes
    val env = FlightActions.compressEnvelope(payload)
    val le = java.nio.ByteBuffer.wrap(env, 0, 4).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    assert(le == payload.length)
    assert(FlightActions.decompressEnvelope(env).toSeq == payload.toSeq)
  }

  test("list_schemas action emits a decodable envelope") {
    val env = FlightActions.listSchemas(spark, "spark_catalog")
    val payload = Msgpack.unpack(FlightActions.decompressEnvelope(env)).asInstanceOf[Msgpack.MapV]
    val keys = payload.v.map(_._1).collect { case Msgpack.Str(s) => s }
    assert(keys.contains("schemas") && keys.contains("contents"))
    // url/sha256 are msgpack nil (reference emits None, main.py:572-577)
    val contents = payload.v.collectFirst {
      case (Msgpack.Str("contents"), m: Msgpack.MapV) => m
    }.get
    val cm = contents.v.collect { case (Msgpack.Str(k), x) => k -> x }.toMap
    assert(cm("url") == Msgpack.Nil)
    assert(cm("sha256") == Msgpack.Nil)
  }

  test("arrow round-trip preserves scalar types and values") {
    val df = Seq(
      (1L, 10, 1.5, 2.5f, "s", true),
      (2L, 20, -1.0, 0.0f, "t", false)).toDF("l", "i", "d", "f", "s", "b")
    val bytes = ArrowIO.toArrowStream(df)
    val back = ArrowIO.fromArrowStream(spark, bytes)
    assert(back.schema.map(_.dataType) == df.schema.map(_.dataType))
    assert(back.orderBy("l").collect().toSeq == df.orderBy("l").collect().toSeq)
  }

  test("arrow round-trip carries decimals as decimal128, not strings") {
    val df = spark.sql(
      "SELECT CAST(v AS DECIMAL(18,2)) AS d FROM VALUES (1.25), (NULL), (-7.10) t(v)")
    val back = ArrowIO.fromArrowStream(spark, ArrowIO.toArrowStream(df))
    assert(back.schema.head.dataType ==
      org.apache.spark.sql.types.DecimalType(18, 2))
    val vals = back.orderBy("d").collect().map(r =>
      if (r.isNullAt(0)) null else r.getDecimal(0).toPlainString)
    assert(vals.toSeq == Seq(null, "-7.10", "1.25"))
  }

  test("arrow round-trip handles nulls and float arrays") {
    val df = Seq(
      (1L, Some("x"), Seq(1.0f, 2.0f)),
      (2L, None, Seq(3.0f))).toDF("k", "s", "emb")
    val back = ArrowIO.fromArrowStream(spark, ArrowIO.toArrowStream(df))
    val rows = back.orderBy("k").collect()
    assert(rows(1).isNullAt(1))
    assert(rows(0).getSeq[Float](2) == Seq(1.0f, 2.0f))
  }

  test("arrow stream re-chunks to 1024-row batches") {
    val df = spark.range(3000).toDF("id")
    val bytes = ArrowIO.toArrowStream(df)
    val back = ArrowIO.fromArrowStream(spark, bytes)
    assert(back.count() == 3000)
  }

  test("HTTP server end-to-end: query, formats, ping, cache, errors") {
    graft.engine.Engine.registerTables(spark, sfDir)
    val srv = new HttpServer(spark, 0) // port 0: ephemeral
    val port = srv.start()
    try {
      val client = HttpClient.newHttpClient()
      def get(pathAndQuery: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$pathAndQuery")).build(),
          HttpResponse.BodyHandlers.ofString())

      assert(get("/ping").body() == "Ok\n")

      val q = java.net.URLEncoder.encode(
        "SELECT o_orderpriority, count() AS c, FROM orders GROUP BY o_orderpriority ORDER BY c DESC, o_orderpriority LIMIT 2 FORMAT JSONCompact", "UTF-8")
      val r = get(s"/?query=$q&query_id=test1")
      assert(r.statusCode() == 200)
      val node = mapper.readTree(r.body())
      assert(node.get("rows").asLong() == 2)
      assert(node.get("meta").get(1).get("name").asText() == "c")

      // cache replay: query_id only
      val cached = get("/?query_id=test1")
      assert(cached.statusCode() == 200 && cached.body() == r.body())

      // CSV format param
      val q2 = java.net.URLEncoder.encode("SELECT 1 AS one", "UTF-8")
      val csv = get(s"/?query=$q2&default_format=CSV")
      assert(csv.body().trim == "1")

      // JSONCompactColumns over HTTP (the play-UI chart feed)
      val q3 = java.net.URLEncoder.encode(
        "SELECT o_orderpriority, count() AS c FROM orders GROUP BY o_orderpriority ORDER BY c DESC LIMIT 2", "UTF-8")
      val colsNode = mapper.readTree(get(s"/?query=$q3&default_format=JSONCompactColumns").body())
      assert(colsNode.isArray && colsNode.size() == 2)
      assert(colsNode.get(1).get(0).asLong() >= colsNode.get(1).get(1).asLong())

      // HEAD with a query: Content-Length + Accept-Ranges, no body
      // (reference main.py:290-298)
      val head = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/?query=$q2&default_format=CSV"))
        .method("HEAD", java.net.http.HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(head.statusCode() == 200)
      assert(head.headers().firstValue("Content-Length").orElse("") == "2") // "1\n"
      assert(head.headers().firstValue("Accept-Ranges").orElse("") == "bytes")
      assert(head.body().isEmpty)

      // HEAD Content-Length equals the GET body length, including a result
      // of more than one 1,024-row flush batch
      def request(query: String, format: String) =
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/?query=" +
          java.net.URLEncoder.encode(query, "UTF-8") + s"&default_format=$format"))
      def headLength(query: String, format: String): String =
        client.send(request(query, format)
            .method("HEAD", java.net.http.HttpRequest.BodyPublishers.noBody()).build(),
          HttpResponse.BodyHandlers.ofString()).headers().firstValue("Content-Length").orElse("")
      def getLength(query: String, format: String): String = {
        val r = client.send(request(query, format).build(), HttpResponse.BodyHandlers.ofByteArray())
        assert(r.statusCode() == 200, new String(r.body(), "UTF-8"))
        r.body().length.toString
      }
      val few = "SELECT o_orderkey, o_orderstatus, o_orderdate FROM orders ORDER BY o_orderkey LIMIT 7"
      Seq("CSV", "TSV", "JSONEachRow", "JSONCompactColumns").foreach { f =>
        assert(headLength(few, f) == getLength(few, f), f)
      }
      val many = "SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem " +
        "ORDER BY l_orderkey, l_linenumber LIMIT 2500"
      assert(headLength(many, "CSV") == getLength(many, "CSV"))

      // error channel: 400 + message
      val bad = get("/?query=" + java.net.URLEncoder.encode("SELECT * FROM nope_missing", "UTF-8"))
      assert(bad.statusCode() == 400)
      assert(bad.body().toUpperCase.contains("NOPE_MISSING"))

      // POST body query (play UI path, main.py:320-322)
      val post = client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/"))
        .POST(HttpRequest.BodyPublishers.ofString("SELECT 41 + 1 AS answer FORMAT JSON"))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(post.statusCode() == 200)
      assert(mapper.readTree(post.body()).get("data").get(0).get("answer").asInt() == 42)
    } finally srv.stop()
  }

  test("small replies on a kept-alive connection do not wait for a delayed ACK") {
    // a reply is headers then body; with Nagle on, the body of a small
    // reply waits for the client's delayed ACK and each request takes ~44 ms
    graft.engine.Engine.registerTables(spark, sfDir)
    val srv = new HttpServer(spark, 0)
    val port = srv.start()
    try {
      val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
      def send(b: HttpRequest.Builder): Unit = {
        val r = client.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
        assert(r.statusCode() == 200, new String(r.body(), "UTF-8"))
      }
      def at(p: String) = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$p"))
      val q = java.net.URLEncoder.encode("SELECT count() AS c FROM region FORMAT CSV", "UTF-8")
      send(at(s"/?query=$q&query_id=stall1"))
      val kinds = Seq[(String, () => HttpRequest.Builder)](
        "ping" -> (() => at("/ping")),
        "query_id replay" -> (() => at("/?query_id=stall1")),
        "flight/info" -> (() => at("/flight/info").POST(HttpRequest.BodyPublishers
          .ofString("SELECT 1 AS c"))))
      val medians = kinds.map { case (name, req) =>
        (0 until 10).foreach(_ => send(req()))
        val ms = (0 until 30).map { _ =>
          val t0 = System.nanoTime()
          send(req())
          (System.nanoTime() - t0) / 1e6
        }.sorted
        name -> (ms(14) + ms(15)) / 2
      }
      val report = medians.map { case (n, m) => f"$n $m%.1f ms" }.mkString(", ")
      medians.foreach { case (name, m) => assert(m < 20.0, s"$name; medians of 30: $report") }
    } finally srv.stop()
  }

  test("stop() ends the server's worker threads") {
    import scala.jdk.CollectionConverters._
    def live(): Set[Thread] = Thread.getAllStackTraces.keySet.asScala.toSet
    val before = live()
    val srv = new HttpServer(spark, 0)
    val port = srv.start()
    val r = try HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/ping")).build(),
        HttpResponse.BodyHandlers.ofString())
      finally srv.stop()
    assert(r.statusCode() == 200)
    // the client's threads are daemons; the server's workers are not, and
    // a worker still alive keeps the JVM from exiting
    val left = (live() -- before).filter { t => !t.isDaemon && { t.join(1000); t.isAlive } }
    assert(left.isEmpty, s"still alive after stop(): ${left.map(_.getName).mkString(", ")}")
  }

  test("concurrent anonymous ?database= requests never cross-talk") {
    graft.engine.Engine.registerTables(spark, sfDir)
    val srv = new HttpServer(spark, 0)
    val port = srv.start()
    try {
      val client = HttpClient.newHttpClient()
      def run(db: String, sql: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(
            s"http://127.0.0.1:$port/?database=$db&query=" +
              java.net.URLEncoder.encode(sql, "UTF-8"))).build(),
          HttpResponse.BodyHandlers.ofString())
      // seed one table per database (drop first: crashed runs leave state)
      for (db <- Seq("iso_a", "iso_b")) run(db, "DROP TABLE IF EXISTS marker")
      run("iso_a", "CREATE TABLE marker (v STRING) USING parquet")
      run("iso_a", "INSERT INTO marker VALUES ('from_a')")
      run("iso_b", "CREATE TABLE marker (v STRING) USING parquet")
      run("iso_b", "INSERT INTO marker VALUES ('from_b')")
      // hammer both databases concurrently: every response must come from
      // the database its request named (the round-1 bug re-pointed the
      // shared session's currentDatabase mid-flight)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      val futures = (1 to 40).map { i =>
        val db = if (i % 2 == 0) "iso_a" else "iso_b"
        pool.submit(new java.util.concurrent.Callable[(String, String)] {
          def call(): (String, String) =
            db -> run(db, "SELECT v FROM marker FORMAT CSV").body().trim
        })
      }
      futures.foreach { f =>
        val (db, got) = f.get()
        val want = if (db == "iso_a") "from_a" else "from_b"
        assert(got == want, s"request for $db answered from the wrong database: $got")
      }
      pool.shutdown()
      // the shared session itself was never re-pointed
      assert(spark.catalog.currentDatabase == "default")
      spark.sql("DROP TABLE iso_a.marker"); spark.sql("DROP DATABASE iso_a")
      spark.sql("DROP TABLE iso_b.marker"); spark.sql("DROP DATABASE iso_b")
    } finally srv.stop()
  }

  test("flight-over-HTTP shim: do_get ticket -> arrow stream, do_put/do_exchange ingest, info schema") {
    graft.engine.Engine.registerTables(spark, sfDir)
    val srv = new HttpServer(spark, 0)
    val port = srv.start()
    try {
      val client = HttpClient.newHttpClient()
      def post(p: String, body: Array[Byte]): HttpResponse[Array[Byte]] =
        client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$p"))
          .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
          HttpResponse.BodyHandlers.ofByteArray())

      // do_get with a JSON ticket (examples/flight_read.py flow: the ticket
      // may carry multiple statements; last result streams back as Arrow)
      val ticket = """{"query": "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"}"""
      val r = post("/flight/do_get", ticket.getBytes("UTF-8"))
      assert(r.statusCode() == 200)
      assert(r.headers().firstValue("Content-Type").orElse("")
        .startsWith("application/vnd.apache.arrow.stream"))
      val back = ArrowIO.fromArrowStream(spark, r.body())
      assert(back.count() == 5)
      assert(back.columns.toSeq == Seq("r_regionkey", "r_name"))

      // do_put + do_exchange (examples/flight_insert.py flow)
      spark.sql("DROP TABLE IF EXISTS graft_shim_tbl")
      spark.sql("CREATE TABLE graft_shim_tbl (id BIGINT) USING parquet")
      import spark.implicits._
      val put = post("/flight/do_put?table=graft_shim_tbl",
        ArrowIO.toArrowStream(spark.range(10).toDF("id")))
      assert(put.statusCode() == 200)
      val putResp = ArrowIO.fromArrowStream(spark, put.body()).head
      assert(putResp.getLong(0) == 10L)
      val exch = post("/flight/do_exchange?table=graft_shim_tbl",
        ArrowIO.toArrowStream(spark.range(5).toDF("id")))
      assert(ArrowIO.fromArrowStream(spark, exch.body()).head.getLong(0) == 5L)
      assert(spark.table("graft_shim_tbl").count() == 15)
      spark.sql("DROP TABLE graft_shim_tbl")

      // get_flight_info: schema only, no execution
      val info = client.send(HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$port/flight/info?query=" +
            java.net.URLEncoder.encode("SELECT count() AS c, FROM orders", "UTF-8"))).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      val infoDf = ArrowIO.fromArrowStream(spark, info.body())
      assert(infoDf.columns.toSeq == Seq("c") && infoDf.isEmpty)
    } finally srv.stop()
  }

  test("concurrency soak: writer inserts while reader polls — monotone counts, zero failed reads") {
    // wire-level mirror of the reference's only performance claim
    // ("concurrent inserts and querying", README.md:14): the writer loop is
    // examples/flight_insert.py:73-95 (CREATE TABLE + INSERT VALUES tickets
    // via do_get, plus do_put arrow batches — both ingest paths), the
    // reader loop is examples/flight_watch.py:43-66 (COUNT(*) + sample via
    // do_get), run truly concurrently with no sleeps.
    graft.engine.Engine.registerTables(spark, sfDir)
    val srv = new HttpServer(spark, 0)
    val port = srv.start()
    try {
      def post(p: String, body: Array[Byte]): HttpResponse[Array[Byte]] =
        HttpClient.newHttpClient().send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$p"))
            .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
          HttpResponse.BodyHandlers.ofByteArray())
      def ticket(sql: String): HttpResponse[Array[Byte]] =
        post("/flight/do_get", sql.getBytes("UTF-8"))

      spark.sql("DROP TABLE IF EXISTS graft_soak_tbl")
      assert(ticket("CREATE TABLE graft_soak_tbl (batch_id BIGINT, ts STRING, " +
        "value DOUBLE, category STRING) USING parquet").statusCode() == 200)

      val cycles = 6
      val rowsPerBatch = 100
      val writerErr = new java.util.concurrent.atomic.AtomicReference[String](null)
      val readerErr = new java.util.concurrent.atomic.AtomicReference[String](null)
      val readsDone = new java.util.concurrent.atomic.AtomicInteger(0)
      val writerDone = new java.util.concurrent.atomic.AtomicBoolean(false)

      val writer = new Thread(() => {
        try {
          (0 until cycles).foreach { b =>
            if (b % 2 == 0) {
              // INSERT VALUES ticket (the flight_insert.py path)
              val values = (0 until rowsPerBatch)
                .map(i => s"($b, 't$b', ${i / 10.0}, 'cat${i % 3}')").mkString(",")
              val r = ticket(s"INSERT INTO graft_soak_tbl VALUES $values")
              if (r.statusCode() != 200)
                throw new IllegalStateException(s"insert batch $b -> ${r.statusCode()}")
            } else {
              // do_put arrow batch (the byte-level ingest path)
              val df = spark.range(rowsPerBatch).selectExpr(s"$b AS batch_id",
                s"'t$b' AS ts", "id / 10.0 AS value", "concat('cat', id % 3) AS category")
              val r = post("/flight/do_put?table=graft_soak_tbl", ArrowIO.toArrowStream(df))
              if (r.statusCode() != 200)
                throw new IllegalStateException(s"do_put batch $b -> ${r.statusCode()}")
              val n = ArrowIO.fromArrowStream(spark, r.body()).head.getLong(0)
              if (n != rowsPerBatch)
                throw new IllegalStateException(s"do_put batch $b inserted $n")
            }
          }
        } catch { case e: Throwable => writerErr.set(e.toString) }
        finally writerDone.set(true)
      })
      val reader = new Thread(() => {
        try {
          var last = 0L
          while (!writerDone.get() || readsDone.get() == 0) {
            val r = ticket("SELECT COUNT(*) AS total FROM graft_soak_tbl")
            if (r.statusCode() != 200)
              throw new IllegalStateException(s"count read -> ${r.statusCode()}")
            val n = ArrowIO.fromArrowStream(spark, r.body()).head.getLong(0)
            if (n < last) throw new IllegalStateException(s"count went backwards: $last -> $n")
            last = n
            val s = ticket("SELECT * FROM graft_soak_tbl ORDER BY RANDOM() LIMIT 1")
            if (s.statusCode() != 200)
              throw new IllegalStateException(s"sample read -> ${s.statusCode()}")
            val sampleDf = ArrowIO.fromArrowStream(spark, s.body())
            if (last > 0 && sampleDf.columns.length != 4)
              throw new IllegalStateException(s"sample shape: ${sampleDf.columns.toSeq}")
            readsDone.incrementAndGet()
          }
        } catch { case e: Throwable => readerErr.set(e.toString) }
      })
      writer.start(); reader.start()
      writer.join(120000); reader.join(120000)
      assert(writerErr.get() == null, s"writer failed: ${writerErr.get()}")
      assert(readerErr.get() == null, s"reader failed: ${readerErr.get()}")
      assert(readsDone.get() > 0, "reader never completed a poll cycle")
      val fin = ArrowIO.fromArrowStream(spark,
        ticket("SELECT COUNT(*) AS total FROM graft_soak_tbl").body()).head.getLong(0)
      assert(fin == cycles.toLong * rowsPerBatch)
      spark.sql("DROP TABLE graft_soak_tbl")
    } finally srv.stop()
  }

  test("list_flights: canned no-filter flights, path-mode flight info, executable tickets") {
    graft.engine.Engine.registerTables(spark, sfDir)
    // no filter → exactly the reference's 4 canned flights (main.py:496-521)
    val canned = FlightActions.listFlights(spark, None, None)
    assert(canned.map(_.table) ==
      Seq("show_databases", "show_tables", "show_version", "list_schemas"))
    assert(canned.map(_.ticketSql) ==
      Seq("SHOW DATABASES", "SHOW TABLES", "SELECT version()", "SHOW ALL TABLES"))
    assert(canned.forall(f => f.catalog == "main" && f.schema == "public"))
    // one filter only → still canned (reference requires BOTH for tables)
    assert(FlightActions.listFlights(spark, Some("spark_catalog"), None)
      .map(_.table) == canned.map(_.table))

    // every canned ticket executes through the engine, and its result shape
    // equals the declared wide catalog/table schema (the reference's canned
    // schemas, main.py:481-494)
    val dbs = graft.engine.Engine.sqlScript(spark, "SHOW DATABASES")
    assert(dbs.columns.toSeq == Seq("catalog_name", "schema_name", "description"))
    assert(dbs.collect().map(_.getString(1)).contains("default"))
    val tbls = graft.engine.Engine.sqlScript(spark, "SHOW TABLES")
    assert(tbls.columns.toSeq ==
      Seq("table_name", "schema_name", "catalog_name", "table_type"))
    assert(tbls.collect().map(_.getString(0)).contains("region"))
    assert(graft.engine.Engine.sqlScript(spark, "SHOW ALL TABLES")
      .columns.toSeq == tbls.columns.toSeq)
    assert(graft.engine.Engine.sqlScript(spark, "SELECT version()")
      .head.getString(0).nonEmpty)

    // path-mode flight info (main.py:834-851): known command → schema +
    // ticket; unknown → None
    val (schema, ticket) = FlightActions.pathFlightInfo(spark, "show_databases").get
    assert(ticket == "SHOW DATABASES")
    assert(schema.fieldNames.toSeq == Seq("catalog_name", "schema_name", "description"))
    assert(FlightActions.pathFlightInfo(spark, "no_such_flight").isEmpty)

    // both filters present → table listing with SELECT * tickets
    val filtered = FlightActions.listFlights(spark, Some("spark_catalog"), Some("default"))
    assert(filtered.exists(f => f.table == "region" && f.ticketSql == "SELECT * FROM region"))

    // envelope: msgpack+zstd array of {descriptor, ticket, schema, app_metadata}
    val env = FlightActions.listFlightsEnvelope(spark, None, None)
    val arr = Msgpack.unpack(FlightActions.decompressEnvelope(env)).asInstanceOf[Msgpack.Arr]
    assert(arr.v.length == 4)
    val first = arr.v.head.asInstanceOf[Msgpack.MapV].v
      .collect { case (Msgpack.Str(k), x) => k -> x }.toMap
    assert(first("descriptor") == Msgpack.Arr(Seq(Msgpack.Str("show_databases"))))
    assert(first("ticket") == Msgpack.Str("SHOW DATABASES"))
    assert(first("total_records") == Msgpack.Num(-1L))
    // schema bytes are a valid schema-only Arrow IPC stream
    val ipc = first("schema").asInstanceOf[Msgpack.Bin].v
    assert(ArrowIO.fromArrowStream(spark, ipc).columns.toSeq ==
      Seq("catalog_name", "schema_name", "description"))
    // app_metadata is the Airport envelope with input_schema = same IPC
    val meta = Msgpack.unpack(first("app_metadata").asInstanceOf[Msgpack.Bin].v)
      .asInstanceOf[Msgpack.MapV].v.collect { case (Msgpack.Str(k), x) => k -> x }.toMap
    assert(meta("type") == Msgpack.Str("table"))
    assert(meta("catalog") == Msgpack.Str("main"))
    assert(meta("schema") == Msgpack.Str("public"))
    assert(meta("name") == Msgpack.Str("show_databases"))
  }

  test("flight-over-HTTP shim: list_flights endpoint + path-mode info") {
    graft.engine.Engine.registerTables(spark, sfDir)
    val srv = new HttpServer(spark, 0)
    val port = srv.start()
    try {
      val client = HttpClient.newHttpClient()
      def get(p: String, headers: Seq[(String, String)] = Seq.empty): HttpResponse[Array[Byte]] = {
        val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$p"))
        headers.foreach { case (k, v) => b.header(k, v) }
        client.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
      }
      // no filter → canned flights
      val r = get("/flight/list_flights")
      assert(r.statusCode() == 200)
      val arr = Msgpack.unpack(FlightActions.decompressEnvelope(r.body()))
        .asInstanceOf[Msgpack.Arr]
      assert(arr.v.length == 4)
      // reference's airport filter headers → table listing
      val rf = get("/flight/list_flights", Seq(
        "airport-list-flights-filter-catalog" -> "spark_catalog",
        "airport-list-flights-filter-schema" -> "default"))
      val tickets = Msgpack.unpack(FlightActions.decompressEnvelope(rf.body()))
        .asInstanceOf[Msgpack.Arr].v.map(_.asInstanceOf[Msgpack.MapV].v
          .collect { case (Msgpack.Str("ticket"), Msgpack.Str(t)) => t }).flatten
      assert(tickets.contains("SELECT * FROM region"))
      // path-mode info: schema IPC + ticket header; unknown path → 404
      val info = get("/flight/info?path=show_tables")
      assert(info.statusCode() == 200)
      assert(info.headers().firstValue("X-Flight-Ticket").orElse("") == "SHOW TABLES")
      assert(ArrowIO.fromArrowStream(spark, info.body()).columns.toSeq ==
        Seq("table_name", "schema_name", "catalog_name", "table_type"))
      assert(get("/flight/info?path=nope").statusCode() == 404)
      // query mode answers through the same schema path
      val byQuery = get("/flight/info?query=" + java.net.URLEncoder.encode("SHOW TABLES", "UTF-8"))
      assert(byQuery.statusCode() == 200)
      assert(byQuery.body().sameElements(info.body()))
    } finally srv.stop()
  }

  test("chunked streaming: 1.2M-row SELECT streams without Content-Length") {
    import spark.implicits._
    spark.range(1200000L).toDF("id").createOrReplaceTempView("graft_big_stream")
    val srv = new HttpServer(spark, 0)
    val port = srv.start()
    try {
      val client = HttpClient.newHttpClient()
      val resp = client.send(HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$port/?query=" + java.net.URLEncoder.encode(
            "SELECT id FROM graft_big_stream FORMAT CSV", "UTF-8"))).build(),
        HttpResponse.BodyHandlers.ofInputStream())
      assert(resp.statusCode() == 200)
      // chunked transfer: no Content-Length — the body was never a single
      // driver-side array
      assert(resp.headers().firstValue("Content-Length").isEmpty)
      val br = new java.io.BufferedReader(
        new java.io.InputStreamReader(resp.body(), java.nio.charset.StandardCharsets.UTF_8))
      var n = 0L
      var first: String = null
      var last: String = null
      var line = br.readLine()
      while (line != null) {
        if (first == null) first = line
        last = line; n += 1; line = br.readLine()
      }
      assert(n == 1200000L, s"streamed $n rows")
      assert(first == "0" && last == "1199999")
      // a query_id result over the cache's byte cap streams whole but is not
      // cached: its replay answers 404, as after an eviction
      val wide = client.send(HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$port/?query_id=graft_wide&query=" + java.net.URLEncoder.encode(
            "SELECT repeat('x', 60000) AS s FROM graft_big_stream WHERE id < 1200 FORMAT CSV",
            "UTF-8"))).build(),
        HttpResponse.BodyHandlers.ofInputStream())
      assert(wide.statusCode() == 200)
      val wideBytes = wide.body().transferTo(java.io.OutputStream.nullOutputStream())
      assert(wideBytes == 1200L * 60001 && wideBytes > ResultCache.maxBytes)
      assert(client.send(HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$port/?query_id=graft_wide")).build(),
        HttpResponse.BodyHandlers.ofString()).statusCode() == 404)
      // errors before headers still use the 400 channel
      val bad = client.send(HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$port/?query=" + java.net.URLEncoder.encode(
            "SELECT nope FROM graft_big_stream", "UTF-8"))).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(bad.statusCode() == 400)
    } finally srv.stop()
  }

  test("GET /play serves the built-in console; unknown paths fall back to it") {
    val srv = new HttpServer(spark, 0)
    val port = srv.start()
    try {
      val client = HttpClient.newHttpClient()
      def get(p: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$p")).build(),
          HttpResponse.BodyHandlers.ofString())
      val play = get("/play")
      assert(play.statusCode() == 200)
      assert(play.headers().firstValue("Content-Type").orElse("").startsWith("text/html"))
      assert(play.body().contains("graft-spark play"))
      assert(play.body().contains("default_format")) // wired to the query API
      // chart view consumes the column-oriented feed (reference charts the
      // same format with uPlot; ours is an original canvas plotter)
      assert(play.body().contains("JSONCompactColumns"))
      assert(play.body().contains("drawChart"))
      // 404 → console fallback (reference main.py:340-352)
      assert(get("/some/unknown/path").body().contains("graft-spark play"))
      // a query on an unknown path still executes (POST / is the API)
      assert(get("/?query=" + java.net.URLEncoder.encode("SELECT 7 AS x FORMAT CSV", "UTF-8"))
        .body().trim == "7")
    } finally srv.stop()
  }

  test("HTTP insert round-trip: CREATE TABLE, NDJSON POST insert, SELECT back") {
    val srv = new HttpServer(spark, 0)
    val port = srv.start()
    try {
      val client = HttpClient.newHttpClient()
      def post(query: String, body: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:$port/?query=" + java.net.URLEncoder.encode(query, "UTF-8")))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
      def get(query: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:$port/?query=" + java.net.URLEncoder.encode(query, "UTF-8"))).build(),
          HttpResponse.BodyHandlers.ofString())

      spark.sql("DROP TABLE IF EXISTS graft_ins_test")
      val mk = get("CREATE TABLE graft_ins_test (name STRING, n BIGINT) USING parquet")
      assert(mk.statusCode() == 200, mk.body())
      val ins = post("INSERT INTO graft_ins_test",
        """{"name": "rusty", "n": 5}""" + "\n" + """{"name": "quacky", "n": 7}""")
      assert(ins.statusCode() == 200, ins.body())
      val sel = get("SELECT name, n FROM graft_ins_test ORDER BY n FORMAT JSONCompact")
      val node = mapper.readTree(sel.body())
      assert(node.get("rows").asLong() == 2)
      assert(node.get("data").get(0).get(0).asText() == "rusty")
      spark.sql("DROP TABLE IF EXISTS graft_ins_test")
    } finally srv.stop()
  }

  test("concurrent inserts and querying over HTTP (reference soak, README.md:14)") {
    val srv = new HttpServer(spark, 0)
    val port = srv.start()
    try {
      val client = HttpClient.newHttpClient()
      def call(query: String, body: String = ""): HttpResponse[String] = {
        val b = HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/?query=" + java.net.URLEncoder.encode(query, "UTF-8")))
        client.send(if (body.isEmpty) b.build()
          else b.POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
      }
      spark.sql("DROP TABLE IF EXISTS graft_soak")
      val loc = new java.io.File("spark-warehouse/graft_soak")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(loc)
      }
      val mk = call("CREATE TABLE graft_soak (batch_id BIGINT, value DOUBLE, category STRING) USING parquet")
      assert(mk.statusCode() == 200, mk.body())

      val writers = 3; val batches = 4; val rowsPerBatch = 50
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val counts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val writerThreads = (1 to writers).map { w =>
        new Thread(() => (1 to batches).foreach { b =>
          val body = (1 to rowsPerBatch)
            .map(i => s"""{"batch_id": ${w * 1000 + b}, "value": $i.5, "category": "${('A' + i % 4).toChar}"}""")
            .mkString("\n")
          val r = call("INSERT INTO graft_soak", body)
          if (r.statusCode() != 200) errors.add(s"insert: ${r.body()}")
        })
      }
      val reader = new Thread(() => (1 to 6).foreach { _ =>
        val r = call("SELECT count(*) AS n FROM graft_soak FORMAT CSV")
        if (r.statusCode() == 200) counts.add(r.body().trim.toLong)
        else errors.add(s"read: ${r.body()}")
        Thread.sleep(50)
      })
      (writerThreads :+ reader).foreach(_.start())
      (writerThreads :+ reader).foreach(_.join())
      assert(errors.isEmpty, s"concurrent errors: ${errors.toArray.mkString("; ")}")
      // reader observed monotonically non-decreasing counts
      val seen = counts.toArray(Array.empty[java.lang.Long]).map(_.toLong)
      assert(seen.zip(seen.tail).forall { case (a, b) => a <= b }, seen.mkString(","))
      val fin = call("SELECT count(*) AS n FROM graft_soak FORMAT CSV").body().trim.toLong
      assert(fin == writers.toLong * batches * rowsPerBatch)
      spark.sql("DROP TABLE graft_soak")
    } finally srv.stop()
  }

  test("create_schema and create_table flight actions") {
    val name = FlightActions.createSchema(spark, "cat.flight_test_db".getBytes)
    assert(name == "flight_test_db")
    assert(spark.catalog.databaseExists("flight_test_db"))

    // build an Arrow IPC stream whose schema carries the table metadata
    import org.apache.arrow.vector.types.pojo.{Schema => ASchema}
    import scala.jdk.CollectionConverters._
    val fields = List(
      ArrowIO.toArrowField(org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType)),
      ArrowIO.toArrowField(org.apache.spark.sql.types.StructField("love_of_duckdb",
        org.apache.spark.sql.types.IntegerType)))
    val meta = Map("catalog_name" -> "spark_catalog", "schema_name" -> "flight_test_db",
      "table_name" -> "people").asJava
    val schema = new ASchema(fields.asJava, meta)
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val root = org.apache.arrow.vector.VectorSchemaRoot.create(schema, alloc)
    val out = new java.io.ByteArrayOutputStream()
    val w = new org.apache.arrow.vector.ipc.ArrowStreamWriter(root, null, out)
    w.start(); w.end(); root.close(); alloc.close()

    val (ref, ddl) = FlightActions.createTable(spark, out.toByteArray)
    assert(ref.table == "people" && ref.schema == "flight_test_db")
    assert(spark.catalog.tableExists("flight_test_db.people"))
    spark.sql("DROP TABLE flight_test_db.people")
    spark.sql("DROP DATABASE flight_test_db")
  }

  test("doPut appends an arrow stream to a table in a single job") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_put_test")
    spark.sql("CREATE TABLE graft_put_test (k BIGINT, v STRING) USING parquet")
    val bytes = ArrowIO.toArrowStream(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val n =
      try {
        val r = FlightActions.doPut(spark, "graft_put_test", bytes)
        val deadline = System.currentTimeMillis() + 5000
        while (jobs.get() == 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
        Thread.sleep(250)
        assert(jobs.get() == 1, s"doPut launched ${jobs.get()} jobs, expected 1")
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(n == 2)
    assert(spark.table("graft_put_test").count() == 2)
    spark.sql("DROP TABLE graft_put_test")
  }

  test("doExchange appends per batch and replies with a {rows_inserted: int64} arrow table") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_exch_test")
    spark.sql("CREATE TABLE graft_exch_test (id BIGINT) USING parquet")
    // 3000 rows re-chunk to three 1024/1024/952 batches — exercises the loop
    val bytes = ArrowIO.toArrowStream(spark.range(3000).toDF("id"))
    val resp = FlightActions.doExchange(spark, "graft_exch_test", bytes)
    assert(spark.table("graft_exch_test").count() == 3000)
    // byte-level response check: IPC stream, one batch, one int64 column
    // named rows_inserted with the total (main.py:1048-1049,1089-1094)
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val rdr = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(resp), alloc)
    try {
      val root = rdr.getVectorSchemaRoot
      val field = root.getSchema.getFields.get(0)
      assert(field.getName == "rows_inserted")
      assert(field.getType.isInstanceOf[org.apache.arrow.vector.types.pojo.ArrowType.Int])
      assert(field.getType.asInstanceOf[org.apache.arrow.vector.types.pojo.ArrowType.Int].getBitWidth == 64)
      assert(rdr.loadNextBatch())
      assert(root.getRowCount == 1)
      assert(root.getVector(0).asInstanceOf[org.apache.arrow.vector.BigIntVector].get(0) == 3000L)
      assert(!rdr.loadNextBatch())
    } finally { rdr.close(); alloc.close() }
    spark.sql("DROP TABLE graft_exch_test")
  }

  test("doPut streams a 1M-row arrow body in bounded chunks (round-4)") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_put_big")
    spark.sql("CREATE TABLE graft_put_big (id BIGINT) USING parquet")
    // 1M rows: the body reaches doPut as an InputStream and must be
    // committed every 65536 rows — 16 separate append jobs proves the body
    // was never materialized as one driver-side Row buffer (round-3
    // verdict: the old path OOMed at pipeline ingest rates)
    val bytes = ArrowIO.toArrowStream(spark.range(1000000).toDF("id"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val n =
      try {
        val r = FlightActions.doPut(spark, "graft_put_big",
          new java.io.ByteArrayInputStream(bytes))
        val deadline = System.currentTimeMillis() + 5000
        while (jobs.get() < 16 && System.currentTimeMillis() < deadline) Thread.sleep(50)
        assert(jobs.get() >= 16, s"expected >=16 chunked commit jobs, saw ${jobs.get()}")
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(n == 1000000L)
    assert(spark.table("graft_put_big").count() == 1000000L)
    spark.sql("DROP TABLE graft_put_big")
  }

  test("HTTP NDJSON insert streams a 1M-line body in bounded chunks (round-4)") {
    spark.sql("DROP TABLE IF EXISTS graft_ndjson_big")
    spark.sql("CREATE TABLE graft_ndjson_big (id BIGINT, tag STRING) USING parquet")
    // the NDJSON generator IS a stream: lines are produced on demand, so
    // the test itself never holds the 1M-line body either
    val gen = new java.io.InputStream {
      private var remaining = 1000000
      private var cur: Array[Byte] = Array.emptyByteArray
      private var pos = 0
      override def read(): Int = {
        if (pos >= cur.length) {
          if (remaining == 0) return -1
          remaining -= 1
          cur = s"""{"id":$remaining,"tag":"t${remaining % 7}"}\n""".getBytes("UTF-8")
          pos = 0
        }
        val b = cur(pos) & 0xff; pos += 1; b
      }
      override def read(buf: Array[Byte], off: Int, len: Int): Int = {
        if (pos >= cur.length && remaining == 0) return -1
        var w = 0
        while (w < len && (pos < cur.length || remaining > 0)) {
          if (pos >= cur.length) {
            remaining -= 1
            cur = s"""{"id":$remaining,"tag":"t${remaining % 7}"}\n""".getBytes("UTF-8")
            pos = 0
          }
          val take = math.min(len - w, cur.length - pos)
          System.arraycopy(cur, pos, buf, off + w, take)
          pos += take; w += take
        }
        w
      }
    }
    val r = QueryExecutor.runInsertStream(spark, "graft_ndjson_big", gen)
    assert(r.isRight, s"insert failed: $r")
    assert(r.toOption.get == 1000000L)
    assert(spark.table("graft_ndjson_big").count() == 1000000L)
    // chunked commits → multiple parquet part files, not one
    assert(spark.table("graft_ndjson_big").inputFiles.length >= 16,
      "expected one parquet append per 65536-line chunk")
    spark.sql("DROP TABLE graft_ndjson_big")
  }

  test("concurrent doPut writers to one table serialize and lose no rows") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_put_soak")
    spark.sql("CREATE TABLE graft_put_soak (id BIGINT) USING parquet")
    // the reference's flight_insert.py pattern: many concurrent writers to
    // one table; without the shared per-table lock the FileOutputCommitter
    // _temporary dir races and rows vanish or the write throws
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    val futures = (0 until 6).map { w =>
      val bytes = ArrowIO.toArrowStream(
        spark.range(w * 100L, w * 100L + 100L).toDF("id"))
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = FlightActions.doPut(spark, "graft_put_soak", bytes)
      })
    }
    assert(futures.map(_.get()).sum == 600L)
    pool.shutdown()
    assert(spark.table("graft_put_soak").count() == 600)
    assert(spark.table("graft_put_soak").select("id").distinct().count() == 600)
    spark.sql("DROP TABLE graft_put_soak")
  }

  test("do_get answers bad SQL with 400 and the error text, a valid ticket with 200") {
    graft.engine.Engine.registerTables(spark, sfDir)
    val srv = new HttpServer(spark, 0)
    val port = srv.start()
    try {
      val client = HttpClient.newHttpClient()
      def doGet(sql: String): HttpResponse[Array[Byte]] =
        client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/flight/do_get"))
          .POST(HttpRequest.BodyPublishers.ofByteArray(sql.getBytes("UTF-8"))).build(),
          HttpResponse.BodyHandlers.ofByteArray())
      val bad = "SELECT no_such_column FROM region"
      val err = intercept[Throwable](graft.engine.Engine.sqlScript(spark, bad))
      val r = doGet(bad)
      assert(r.statusCode() == 400)
      assert(new String(r.body(), "UTF-8") == QueryExecutor.errorMessage(err) + "\n")
      val ok = doGet("SELECT r_regionkey FROM region ORDER BY r_regionkey DESC")
      assert(ok.statusCode() == 200)
      assert(ArrowIO.fromArrowStream(spark, ok.body()).collect().map(_.get(0).toString).toSeq ==
        Seq("4", "3", "2", "1", "0"))
    } finally srv.stop()
  }

  test("commandSchema resolves schema without executing") {
    graft.engine.Engine.registerTables(spark, sfDir)
    val schema = FlightActions.commandSchema(spark, "SELECT count() AS c, FROM orders")
    assert(schema.fieldNames.toSeq == Seq("c"))
  }
}
