package perfbench

import java.io.InputStream
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._

/** One HTTP request of a workload. `sql` is the statement the handler
  * receives (for the in-process replay and the translate span); `key`
  * names the distinct request, for the warm-up pass. A `deferred` check
  * compares with in-process results computed after the timed window. */
final case class Req(
    cls: String,
    method: String,
    path: String,
    body: Array[Byte],
    auth: Boolean,
    format: String,
    key: String,
    sql: String,
    check: Parsed => Option[String],
    rowsSent: Long = 0,
    valueSum: Map[String, Long] = Map.empty,
    deferred: Boolean = false)

/** What the client read back: status, body size, rows and column names as
  * parsed from the wire format; `head` holds the start of a CSV/TSV body
  * and the first cell of an Arrow one. */
final case class Parsed(status: Int, bytes: Long, rows: Long, cols: Seq[String],
    head: String, error: String) {
  def firstCell: String = head.split("[,\t\n]", 2).head
}

/** Timing of one request: nanoTime at send, first body byte and end. */
final case class Sample(cls: String, key: String, t0: Long, ttfb: Long, t1: Long,
    status: Int, bytes: Long, rows: Long, ok: Boolean, error: String,
    req: Req = null, parsed: Parsed = null) {
  /** Applies a deferred check, once its reference results exist. */
  def verified: Sample =
    if (!ok || req == null || !req.deferred) this
    else req.check(parsed).fold(this)(e => copy(ok = false, error = e))
}

object Wire {
  val tenant: (String, String) = ("bench", "pw")
  private val authHeader = "Basic " + java.util.Base64.getEncoder
    .encodeToString(s"${tenant._1}:${tenant._2}".getBytes(UTF_8))

  def client(): HttpClient =
    HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")

  /** Sends `r`, reads and checks the whole body; never throws. */
  def send(c: HttpClient, port: Int, r: Req, timeoutS: Int = 120): Sample = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${r.path}"))
      .timeout(java.time.Duration.ofSeconds(timeoutS))
    if (r.auth) b.header("Authorization", authHeader)
    if (r.method == "POST") b.POST(HttpRequest.BodyPublishers.ofByteArray(r.body))
    else b.GET()
    val t0 = System.nanoTime()
    try {
      val resp = c.send(b.build(), HttpResponse.BodyHandlers.ofInputStream())
      val in = new Timed(resp.body())
      val p = try parse(resp.statusCode(), r.format, in) finally in.close()
      val t1 = System.nanoTime()
      val err = if (p.status != 200) Some(s"HTTP ${p.status}: ${p.error.take(200)}")
        else if (p.error.nonEmpty) Some(p.error) else if (r.deferred) None else r.check(p)
      Sample(r.cls, r.key, t0, if (in.first > 0) in.first else t1, t1, p.status, p.bytes,
        p.rows, err.isEmpty, err.getOrElse(""), r, p)
    } catch {
      case e: Throwable =>
        val t1 = System.nanoTime()
        Sample(r.cls, r.key, t0, t1, t1, -1, 0, 0, ok = false,
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
    }
  }

  /** Counts bytes and stamps the first one. */
  final class Timed(in: InputStream) extends java.io.FilterInputStream(in) {
    var first = 0L
    var n = 0L
    private def got(k: Int): Unit = if (k > 0) { if (first == 0) first = System.nanoTime(); n += k }
    override def read(): Int = { val b = super.read(); got(if (b >= 0) 1 else 0); b }
    override def read(buf: Array[Byte], off: Int, len: Int): Int = {
      val k = super.read(buf, off, len); got(k); k
    }
  }

  /** Streams the body once, counting rows in the wire format. */
  def parse(status: Int, format: String, in: Timed): Parsed = {
    if (status != 200) {
      val msg = new String(in.readAllBytes(), UTF_8)
      return Parsed(status, in.n, 0, Nil, "", msg)
    }
    try format.toUpperCase match {
      case "JSONCOMPACT" | "JSON" => jsonEnvelope(in)
      case "JSONEACHROW" => ndjson(in)
      case "CSV" | "TSV" => delimited(in)
      case "ARROW" => arrow(in)
      case _ => Parsed(status, in.readAllBytes().length.toLong, 0, Nil, "", "")
    } catch {
      case e: Throwable =>
        Parsed(status, in.n, 0, Nil, "", s"unparseable $format body: ${e.getMessage}")
    }
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def jsonEnvelope(in: Timed): Parsed = {
    import com.fasterxml.jackson.core.JsonToken
    val p = mapper.getFactory.createParser(in)
    var cols = Vector.empty[String]
    var rows = 0L
    var declared = -1L
    p.nextToken() // START_OBJECT
    while (p.nextToken() == JsonToken.FIELD_NAME) {
      val f = p.getCurrentName
      p.nextToken()
      f match {
        case "meta" =>
          val meta: com.fasterxml.jackson.databind.JsonNode = mapper.readTree(p)
          cols = meta.elements().asScala.map(_.get("name").asText()).toVector
        case "data" =>
          while (p.nextToken() != JsonToken.END_ARRAY) { p.skipChildren(); rows += 1 }
        case "rows" => declared = p.getLongValue
        case _ => p.skipChildren()
      }
    }
    while (in.read(new Array[Byte](8192)) >= 0) {}
    val err = if (declared != rows) s"envelope rows=$declared but data has $rows" else ""
    Parsed(200, in.n, rows, cols, "", err)
  }

  private def lines(in: InputStream)(f: String => Unit): Unit = {
    val r = new java.io.BufferedReader(new java.io.InputStreamReader(in, UTF_8), 1 << 16)
    var l = r.readLine()
    while (l != null) { f(l); l = r.readLine() }
  }

  private def ndjson(in: Timed): Parsed = {
    var rows = 0L
    var cols: Seq[String] = Nil
    lines(in) { l =>
      if (rows == 0) cols = mapper.readTree(l).fieldNames().asScala.toVector
      rows += 1
    }
    Parsed(200, in.n, rows, cols, "", "")
  }

  /** CSV and TSV: the encoder quotes any value holding a delimiter, quote
    * or newline, so a record ends at a newline outside quotes. */
  private def delimited(in: Timed): Parsed = {
    val buf = new Array[Byte](1 << 16)
    var quoted = false
    var rows = 0L
    val first = new java.io.ByteArrayOutputStream()
    var k = in.read(buf)
    while (k >= 0) {
      var i = 0
      while (i < k) {
        val c = buf(i)
        if (c == '"') quoted = !quoted
        else if (c == '\n' && !quoted) rows += 1
        if (first.size < 4096) first.write(c)
        i += 1
      }
      k = in.read(buf)
    }
    Parsed(200, in.n, rows, Nil, first.toString("UTF-8"), "")
  }

  private def arrow(in: Timed): Parsed = {
    val alloc = new org.apache.arrow.memory.RootAllocator()
    try {
      val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(in, alloc)
      try {
        val root = reader.getVectorSchemaRoot
        val cols = root.getSchema.getFields.asScala.map(_.getName).toVector
        var rows = 0L
        var first = ""
        while (reader.loadNextBatch()) {
          if (rows == 0 && root.getRowCount > 0 && root.getFieldVectors.size > 0)
            first = String.valueOf(root.getVector(0).getObject(0))
          rows += root.getRowCount
        }
        Parsed(200, in.n, rows, cols, first, "")
      } finally reader.close()
    } finally alloc.close()
  }

  /** Arrow IPC stream of one `concurrent_test` batch, built client-side. */
  def arrowBatch(rows: Seq[(Long, String, Long, String)]): Array[Byte] = {
    import org.apache.arrow.vector._
    import org.apache.arrow.vector.ipc.ArrowStreamWriter
    val alloc = new org.apache.arrow.memory.RootAllocator()
    try {
      val bid = new BigIntVector("batch_id", alloc)
      val ts = new VarCharVector("timestamp", alloc)
      val v = new Float8Vector("value", alloc)
      val cat = new VarCharVector("category", alloc)
      val vs = Seq[FieldVector](bid, ts, v, cat)
      vs.foreach(_.allocateNew())
      rows.zipWithIndex.foreach { case ((b, t, x, c), i) =>
        bid.setSafe(i, b); ts.setSafe(i, t.getBytes(UTF_8))
        v.setSafe(i, x.toDouble); cat.setSafe(i, c.getBytes(UTF_8))
      }
      vs.foreach(_.setValueCount(rows.size))
      val root = new VectorSchemaRoot(vs.asJava)
      val out = new java.io.ByteArrayOutputStream()
      val w = new ArrowStreamWriter(root, null, out)
      w.start(); w.writeBatch(); w.end(); root.close()
      out.toByteArray
    } finally alloc.close()
  }
}
