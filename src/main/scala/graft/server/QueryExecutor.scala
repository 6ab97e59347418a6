package graft.server

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.dialect.{Lexer, Sanitizer}
import graft.engine.Engine

/** Query execution + format dispatch + error channel (reference S2,
  * `duckdb_query_with_errmsg`, `/root/reference/main.py:223-249`).
  */
object QueryExecutor {

  /** Analyzed-but-not-executed query, ready to stream. Analysis (and any
    * eager DDL in a multi-statement script) happens inside [[prepare]], so
    * bad SQL still surfaces on the error channel BEFORE response headers
    * go out; only runtime execution happens during encoding. */
  final case class Prepared(df: org.apache.spark.sql.DataFrame, format: String, t0: Long)

  def prepare(spark: SparkSession, sql: String,
      defaultFormat: String): Either[String, Prepared] =
    try {
      val t0 = System.nanoTime()
      val (noFmt, fmt) = Sanitizer.stripFormat(sql)
      val df = Engine.sqlScript(spark, noFmt)
      Right(Prepared(df, fmt.getOrElse(defaultFormat), t0))
    } catch { case e: Throwable => Left(errorMessage(e)) }

  /** The error channel's text: the trimmed message, else the exception's
    * class name. */
  private[server] def errorMessage(e: Throwable): String =
    Option(e.getMessage).map(_.trim).filter(_.nonEmpty).getOrElse(e.getClass.getSimpleName)

  /** HTTP POST `INSERT INTO <t>` with a JSONEachRow body (reference S3,
    * `handle_insert_query`, `/root/reference/main.py:196-211`): the body is
    * parsed as NDJSON and appended — no temp file needed
    * (`spark.read.json` over an in-memory dataset).
    */
  private val insertRe = "(?is)^\\s*INSERT\\s+INTO\\s+([\\w.`\"]+)\\s*$".r

  def insertTarget(sql: String): Option[String] =
    Lexer.routeText(Sanitizer.stripFormat(sql)._1) match {
      case insertRe(t) => Some(t.replaceAll("[`\"]", ""))
      case _ => None
    }

  /** NDJSON lines committed every `chunkLines` — the ingest body streams
    * straight off the socket and is never materialized driver-side (round-4;
    * the reference reads the whole body, main.py:196, which OOMs the server
    * at pipeline ingest rates). Each chunk is schema-inferred independently;
    * [[align]] casts it onto the target schema, so chunks with missing /
    * all-null columns still land correctly. Returns the rows inserted. */
  def runInsertStream(spark: SparkSession, table: String, in: java.io.InputStream,
      chunkLines: Int = 65536): Either[String, Long] =
    try {
      val target = spark.table(table)
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8), 1 << 16)
      var total = 0L
      val buf = new scala.collection.mutable.ArrayBuffer[String](math.min(chunkLines, 1 << 16))
      def commit(): Unit = if (buf.nonEmpty) {
        import spark.implicits._
        val df = spark.read.json(spark.createDataset(buf.toIndexedSeq))
        val aligned = align(df, target)
        // per-table write serialization shared with the Flight ingest paths
        // (reference: DuckDB's single-writer transactions)
        Engine.tableWriteLock(table).synchronized {
          aligned.write.mode("append").insertInto(table)
        }
        total += buf.length
        buf.clear()
      }
      var line = reader.readLine()
      while (line != null) {
        if (line.trim.nonEmpty) {
          buf += line
          if (buf.length >= chunkLines) commit()
        }
        line = reader.readLine()
      }
      commit()
      if (total == 0) Left("empty insert body")
      else Right(total)
    } catch { case e: Throwable => Left(errorMessage(e)) }

  /** Align an inferred NDJSON chunk with the target table: add missing
    * columns as typed NULLs, order and cast to the target schema. */
  private def align(df: DataFrame, target: DataFrame): DataFrame =
    target.schema.fieldNames.foldLeft(df) { (d, c) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, org.apache.spark.sql.functions.lit(null)
        .cast(target.schema(c).dataType))
    }.select(target.schema.fieldNames.map(c =>
      org.apache.spark.sql.functions.col(c).cast(target.schema(c).dataType)): _*)
}
