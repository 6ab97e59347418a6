package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.dialect.{Lexer, Sanitizer, Translator}
import graft.dialect.Lexer.{Ident, Num, Punct, Str, Tok}

/** Session + catalog glue: registers the fixture tables as temp views and
  * executes dialect-translated SQL.
  *
  * Plays the role of the reference's connection manager
  * (`/root/reference/main.py:71-132`): there the engine is a per-tenant
  * embedded DuckDB; here each tenant is a SparkSession over one shared
  * catalog, with its own database and engine state (`SessionState`).
  */
object Engine {

  val tableNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register each `<dir>/<table>.parquet` as a temp view named by file stem
    * (the driver's DuckDB oracle does the same). Idempotent; re-registers
    * only when the directory changes for this session. */
  def registerTables(spark: SparkSession, dir: String): Unit = {
    // externally-created sessions (driver smoke, server embedding) must
    // match localSession's DuckDB-parity literal semantics — runtime-
    // settable, so pin it on every session that reaches the engine
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    val key = "graft.registered.dir"
    val cur = spark.conf.getOption(key)
    if (!cur.contains(dir)) {
      // Parquet TIMESTAMP(NANOS) (events.ts) is rejected by Spark's reader
      // unless read as raw long; we convert back to TimestampType at micro
      // precision (Spark's native resolution — DuckDB keeps ns, a <1µs
      // truncation that cannot affect the declared queries, which never
      // project a ns timestamp).
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Fixture timestamps are naive (isAdjustedToUTC=false). Spark 4 would
      // infer TIMESTAMP_NTZ, which half the timestamp surface (unix_millis,
      // window ranges, …) rejects; DuckDB likewise treats them as plain
      // TIMESTAMP. Read them as TimestampType under the UTC session — the
      // exact semantics every declared query was oracle-validated with.
      spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      tableNames.foreach { t =>
        val path = s"$dir/$t.parquet"
        if (new java.io.File(path).exists()) {
          val raw = spark.read.parquet(path)
          val df = nanoLongCols(path).foldLeft(raw) { (d, c) =>
            d.withColumn(c, org.apache.spark.sql.functions.expr(
              s"timestamp_micros(CAST($c DIV 1000 AS BIGINT))"))
          }
          df.createOrReplaceTempView(t)
        }
      }
      spark.conf.set(key, dir)
    }
  }

  /** `f` applied to the footer of the parquet file at `path`. */
  private def footer[T](path: String)(
      f: org.apache.parquet.hadoop.metadata.ParquetMetadata => T): T = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), new org.apache.hadoop.conf.Configuration()))
    try f(reader.getFooter) finally reader.close()
  }

  /** Columns annotated TIMESTAMP(NANOS) in the parquet footer — these come
    * back as raw long under nanosAsLong and need explicit conversion. */
  private def nanoLongCols(path: String): Seq[String] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimestampLogicalTypeAnnotation, TimeUnit}
    import scala.jdk.CollectionConverters._
    try footer(path)(_.getFileMetaData.getSchema.getFields.asScala.collect {
      case f if Option(f.getLogicalTypeAnnotation).exists {
        case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
        case _ => false
      } => f.getName
    }.toSeq)
    catch { case _: Throwable => Nil }
  }

  /** Exact row count from parquet footer metadata — driver-side, no Spark
    * job (footers are O(files), a `count()` at 100 TB is a real scan). The
    * idiomatic source for sizing parameters like LSH plane counts; catalog
    * statistics take precedence when a table has them. */
  def parquetRowCount(path: String): Option[Long] = {
    import scala.jdk.CollectionConverters._
    try {
      val f = new java.io.File(path)
      val files =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty)
            .filter(_.getName.endsWith(".parquet")).toSeq
        else if (f.exists()) Seq(f)
        else return None
      if (files.isEmpty) return None
      Some(files.map(file => footer(file.getPath)(_.getBlocks.asScala.map(_.getRowCount).sum)).sum)
    } catch { case _: Throwable => None }
  }

  /** DuckDB `COPY <table | (query)> TO '<path>' (FORMAT X [, HEADER])` →
    * a distributed `df.write`. Returns the 1-row `Count` result DuckDB
    * produces. */
  private val copyToRe =
    "(?is)^\\s*COPY\\s+(.+?)\\s+TO\\s+'([^']+)'\\s*(?:\\((.*)\\))?\\s*$".r

  private val partitionByRe = "(?is)PARTITION_BY\\s*\\(([^)]*)\\)|PARTITION_BY\\s+([\\w`\"]+)".r

  private def runCopyTo(spark: SparkSession, source: String, path: String,
      opts: String): DataFrame = {
    val df =
      if (source.trim.startsWith("(")) sql(spark, source.trim.stripPrefix("(").stripSuffix(")"))
      else spark.table(source.trim)
    val optU = opts.toUpperCase
    val format =
      if (optU.contains("PARQUET")) "parquet"
      else if (optU.contains("JSON")) "json"
      else "csv"
    // DuckDB `PARTITION_BY (cols)` → hive-style partitioned layout
    // (df.write.partitionBy): the 100 TB export shape — downstream readers
    // get partition pruning on the exported dataset for free
    val partitionCols = partitionByRe.findFirstMatchIn(opts).toSeq.flatMap { m =>
      Option(m.group(1)).orElse(Option(m.group(2))).toSeq
        .flatMap(_.split(',')).map(_.trim.replaceAll("[`\"]", "")).filter(_.nonEmpty)
    }
    writeCounted(spark, df) { observed =>
      val writer0 = observed.write.mode("overwrite").format(format)
      val writer = if (partitionCols.nonEmpty) writer0.partitionBy(partitionCols: _*) else writer0
      val withHeader = if (format == "csv" && (optU.contains("HEADER") || optU.isEmpty))
        writer.option("header", "true") else writer
      withHeader.save(path)
    }
  }

  /** DuckDB's 1-row `Count` result of `write` run on `df`, the rows
    * counted during the write job itself (a count()-then-save would scan
    * the source twice — at 100 TB a COPY must not run twice). */
  private def writeCounted(spark: SparkSession, df: DataFrame)(
      write: DataFrame => Unit): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit}
    import spark.implicits._
    val obs = org.apache.spark.sql.Observation()
    write(df.observe(obs, count(lit(1)).as("n")))
    Seq(obs.get("n").asInstanceOf[Long]).toDF("Count")
  }

  /** DuckDB `PRAGMA` statements (r5): the reference passes them straight
    * to DuckDB. Informational pragmas map to catalog queries with
    * DuckDB's column shapes (pinned by probe: version →
    * (library_version, source_id); database_list → (seq, name, file);
    * show_tables → (name); table_info → (cid, name, type, notnull,
    * dflt_value, pk)); setting pragmas — bare, call-form or `=` form —
    * are accepted as no-ops with an empty result, exactly the shape
    * DuckDB returns for them (engine settings don't transfer — the
    * documented divergence). */
  private val pragmaRe =
    "(?is)^\\s*PRAGMA\\s+([A-Za-z_][A-Za-z0-9_]*)\\s*(?:\\(\\s*(.*?)\\s*\\)\\s*|=\\s*(\\S.*?)\\s*)?;?\\s*$".r

  /** DuckDB session statements accepted as empty-result no-ops (r5):
    * extension management (the reference INSTALLs/LOADs chsql per
    * connection — extensions don't transfer), storage maintenance
    * (CHECKPOINT/VACUUM/bare ANALYZE — storage is parquet + Spark
    * catalog), and BEGIN/COMMIT (execution is auto-commit; accepting them
    * keeps transactional client scripts running). Guards: `LOAD DATA` and
    * `ANALYZE TABLE` are real Spark statements and pass through.
    * ROLLBACK is NOT a no-op — auto-commit cannot undo, so it errors
    * loudly rather than silently acknowledging an undo that didn't
    * happen. */
  private val noopStmtRe = ("(?is)^\\s*(?:" +
    "(?:FORCE\\s+)?INSTALL\\s+\\S+|" +
    "LOAD\\s+(?!DATA\\b)[A-Za-z_][\\w.]*|" +
    "CHECKPOINT|" +
    "ANALYZE(?!\\s+TABLE\\b)(?:\\s+[\\w.`\"]+)?|" +
    "BEGIN(?:\\s+TRANSACTION)?|COMMIT|VACUUM(?:\\s+[\\w.`\"]+)?" +
    ")\\s*;?\\s*$").r
  private val rollbackRe = "(?is)^\\s*ROLLBACK\\b.*".r

  /** DuckDB `DESCRIBE <query>` (r5): Spark's DESCRIBE only takes table
    * names, but analyzing the translated query's schema without executing
    * it gives the same answer. Output mirrors DuckDB's six columns
    * (column_name, column_type, null, key, default, extra) with Spark's
    * type names (documented divergence — e.g. BIGINT prints the same,
    * DOUBLE too, but STRING vs VARCHAR differs). Plain `DESCRIBE t`
    * still passes through to Spark's native statement. */
  private val describeSelectRe =
    "(?is)^\\s*DESCRIBE\\s+((?:SELECT|WITH|FROM|VALUES)\\b.*)$".r
  // DESCRIBE <table> / SHOW <table> (DuckDB's table form — same 6-column
  // shape as DESCRIBE <query>, DuckDB type spellings). SHOW TABLES /
  // DATABASES never reach this: the translator rewrites them first.
  private val describeTableRe =
    "(?is)^\\s*(?:DESCRIBE|SHOW)\\s+(?:TABLE\\s+)?([\\w.`\"]+)\\s*;?\\s*$".r
  private def describe(spark: SparkSession, df: DataFrame): DataFrame = {
    import spark.implicits._
    // DuckDB type spellings (r7 session 3 — was Spark's INT/STRING)
    df.schema.fields.toSeq.map { f =>
      (f.name, duckTypeName(f.dataType), if (f.nullable) "YES" else "NO",
        Option.empty[String], Option.empty[String], Option.empty[String])
    }.toDF("column_name", "column_type", "null", "key", "default", "extra")
  }
  private val explainRe =
    "(?is)^\\s*EXPLAIN\\s+(ANALYZE\\s+)?((?:SELECT|WITH|FROM|VALUES)\\b.*)$".r
  private val dropTableIfExistsRe =
    "(?is)^\\s*DROP\\s+TABLE\\s+IF\\s+EXISTS\\s+([\\w`\"]+)\\s*$".r

  /** DuckDB `EXPORT DATABASE 'dir' [(FORMAT ...)]` / `IMPORT DATABASE
    * 'dir'` (r5): the backup/restore pair. Export writes every visible
    * table as parquet (the only format that round-trips types losslessly
    * here) plus DuckDB-style `schema.sql` + `load.sql` companions; import
    * re-registers every `<name>.parquet` in the directory. Both return
    * empty results, as DuckDB does. The catalog listing is bounded —
    * never data-sized driver state. */
  private val exportDbRe =
    "(?is)^\\s*EXPORT\\s+DATABASE\\s+'([^']+)'\\s*(?:\\((.*)\\))?\\s*;?\\s*$".r
  private val importDbRe =
    "(?is)^\\s*IMPORT\\s+DATABASE\\s+'([^']+)'\\s*;?\\s*$".r

  /** Spark type → DuckDB type name, so the exported schema.sql parses in
    * DuckDB (Spark's `ARRAY<BIGINT>`/`STRING` spellings don't). */
  private def duckTypeName(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => "VARCHAR"
      case BinaryType => "BLOB"
      case IntegerType => "INTEGER"
      case ByteType => "TINYINT"
      case FloatType => "FLOAT"
      // DuckDB's naive TIMESTAMP matches how parquet round-trips both
      // Spark timestamp flavors (no TIMESTAMP_NTZ type there)
      case TimestampType | TimestampNTZType => "TIMESTAMP"
      case ArrayType(e, _) => s"${duckTypeName(e)}[]"
      case MapType(k, v, _) => s"MAP(${duckTypeName(k)}, ${duckTypeName(v)})"
      case StructType(fields) =>
        fields.map(f => s"\"${f.name}\" ${duckTypeName(f.dataType)}")
          .mkString("STRUCT(", ", ", ")")
      // BIGINT/SMALLINT/BOOLEAN/DOUBLE/DATE/TIMESTAMP/DECIMAL(p,s) spell
      // the same in both engines
      case other => other.sql
    }
  }

  private def runExportDb(spark: SparkSession, dir: String): DataFrame = {
    // the schema.sql/load.sql companions are written with java.nio, so the
    // target must be a local path (table data goes through Spark's Hadoop
    // writer and lands wherever the URI points — keep the two in one place)
    require(!dir.matches("^[A-Za-z][A-Za-z0-9+.-]*://.*") || dir.startsWith("file:"),
      s"EXPORT DATABASE requires a local filesystem path, got: $dir")
    val localDir = dir.stripPrefix("file:")
    // up-front so an empty catalog still exports (empty companions)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(localDir))
    val tables = spark.catalog.listTables().collect().map(_.name).sorted
    val schemaSql = new StringBuilder
    val loadSql = new StringBuilder
    tables.foreach { t =>
      spark.table(t).write.mode("overwrite").parquet(s"$dir/$t.parquet")
      val cols = spark.table(t).schema.fields
        .map(f => s"\"${f.name}\" ${duckTypeName(f.dataType)}").mkString(", ")
      schemaSql.append(s"CREATE TABLE $t ($cols);\n")
      // Spark wrote a parquet DIRECTORY — DuckDB's COPY needs the glob
      loadSql.append(s"COPY $t FROM '$dir/$t.parquet/*.parquet' (FORMAT PARQUET);\n")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(localDir, "schema.sql"),
      schemaSql.toString.getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(localDir, "load.sql"),
      loadSql.toString.getBytes("UTF-8"))
    spark.emptyDataFrame
  }

  private val importNameRe = "^[A-Za-z_][A-Za-z0-9_]*$".r

  private def runImportDb(spark: SparkSession, dir: String): DataFrame = {
    val entries = new java.io.File(dir).listFiles()
    require(entries != null, s"IMPORT DATABASE: no such directory $dir")
    val parquets = entries.filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    // validate every derived view name BEFORE registering any, so the
    // import completes atomically or not at all (a mid-loop failure would
    // leave a partially-registered catalog)
    val bad = parquets.map(_.getName.stripSuffix(".parquet"))
      .filterNot(importNameRe.matches(_))
    require(bad.isEmpty,
      s"IMPORT DATABASE: file names not valid table identifiers: ${bad.mkString(", ")}")
    parquets.foreach { f =>
      spark.read.parquet(f.getAbsolutePath)
        .createOrReplaceTempView(f.getName.stripSuffix(".parquet"))
    }
    spark.emptyDataFrame
  }

  private def runPragma(spark: SparkSession, name: String, arg: Option[String]): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    name.toLowerCase match {
      case "version" =>
        spark.sql("SELECT graft_version() AS library_version, 'spark' AS source_id")
      case "show_tables" =>
        spark.sql("SHOW TABLES").select(col("tableName").as("name")).orderBy("name")
      case "database_list" =>
        // bounded: catalog listing, never data-sized
        spark.sql("SHOW DATABASES").collect().map(_.getString(0)).sorted.toSeq
          .zipWithIndex.map { case (d, i) => (i.toLong, d, Option.empty[String]) }
          .toDF("seq", "name", "file")
      case "table_info" =>
        val t = arg.getOrElse("").trim.replaceAll("^['\"`]|['\"`]$", "")
        require(t.nonEmpty, "PRAGMA table_info requires a table name")
        // DuckDB type spellings (INTEGER/VARCHAR, not INT/STRING) so the
        // output is comparable across engines (r7 session 3)
        spark.table(t).schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
          (i.toLong, f.name, duckTypeName(f.dataType), !f.nullable,
            Option.empty[String], false)
        }.toDF("cid", "name", "type", "notnull", "dflt_value", "pk")
      // setting pragmas no-op ONLY in recognizable setting shapes: a call
      // or `=` argument (threads(4), memory_limit='2GB'), or a bare toggle
      // with DuckDB's enable_/disable_/force_/verify_ prefix. Anything
      // else errors, as DuckDB does — silently returning empty for
      // `PRAGMA vresion` (typo) or an unimplemented informational pragma
      // (table_list, storage_info, functions) would mask client bugs.
      case _ if arg.isDefined => spark.emptyDataFrame
      case n if Seq("enable_", "disable_", "force_", "verify_")
          .exists(n.startsWith) => spark.emptyDataFrame
      case n => throw new IllegalArgumentException(
        s"Catalog Error: Pragma Function with name $n does not exist!")
    }
  }

  /** DuckDB `COPY <table> FROM '<path>' (FORMAT X [, HEADER])` — the ingest
    * twin of COPY TO: a distributed read + schema-aligned append. */
  private val copyFromRe =
    "(?is)^\\s*COPY\\s+([\\w.`\"]+)\\s+FROM\\s+'([^']+)'\\s*(?:\\((.*)\\))?\\s*$".r

  private def runCopyFrom(spark: SparkSession, table: String, path: String,
      opts: String): DataFrame = {
    val t = table.replaceAll("[`\"]", "")
    val optU = opts.toUpperCase
    val src =
      if (optU.contains("PARQUET") || path.endsWith(".parquet")) spark.read.parquet(path)
      else if (optU.contains("JSON") || path.endsWith(".json") || path.endsWith(".ndjson"))
        spark.read.json(path)
      else spark.read.option("header", (!optU.contains("HEADER FALSE")).toString)
        .option("inferSchema", "true").csv(path)
    val target = spark.table(t)
    // order + cast onto the target schema; absent columns become typed NULLs
    val aligned = target.schema.fieldNames.foldLeft(src) { (d, c) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, org.apache.spark.sql.functions.lit(null)
        .cast(target.schema(c).dataType))
    }.select(target.schema.fieldNames.map(c =>
      org.apache.spark.sql.functions.col(c).cast(target.schema(c).dataType)): _*)
    writeCounted(spark, aligned) { observed =>
      tableWriteLock(t).synchronized(observed.write.mode("append").insertInto(t))
    }
  }

  // ---- DML: one copy-on-write driver -----------------------------------
  //
  // The reference passes DELETE/UPDATE straight to DuckDB (`main.py:231`);
  // Spark parquet tables have no in-place DML. Every form — DELETE, UPDATE,
  // DELETE … USING, UPDATE … FROM — runs `copyOnWrite`, which holds the
  // table's write lock from the file listing through the rename (an append
  // committing in between would otherwise land in neither the linked nor
  // the rewritten set and be deleted with the old directory) and does each
  // step once:
  //   1. check the target: a managed catalog table whose rows carry
  //      `_metadata.file_path` (the COW row identity);
  //   2. list its data files;
  //   3. run the form's per-file matched counts — no job on a table with
  //      no files — and return `Count 0` / an empty RETURNING frame with
  //      no swap when nothing matches;
  //   4. split the files into affected (holding a match) and untouched;
  //   5. build the affected-file prune (`filePrune`). A DML touching every
  //      file, or a table whose files are not local, gets no prune and
  //      links nothing: the full rewrite is this same path;
  //   6. capture the RETURNING rows, pinned, before the swap;
  //   7. swap the form's rewrite of the affected rows in, hard-linking the
  //      untouched files forward (`swap`);
  //   8. set `lastCowStats` and build the `Count` (DuckDB's 1-row result:
  //      rows deleted / updated) or RETURNING result.
  // A form supplies only its `CowForm`. Plain forms count with one
  // pushed-filter scan grouped by file and rewrite through the predicate;
  // joined forms checkpoint their matched (file, row) ids once and rewrite
  // through a join on them, so the source is scanned once.

  private val deleteRe =
    "(?is)^\\s*DELETE\\s+FROM\\s+([\\w.`\"]+)(?:\\s+WHERE\\s+(.+?))?(?:\\s+RETURNING\\s+(.+?))?\\s*$".r

  // ---- joined DML (r7 session 3): UPDATE … FROM / DELETE … USING -------
  private val updateHeadRe =
    "(?is)^\\s*UPDATE\\s+([\\w.`\"]+)\\s+SET\\s+(.+?)\\s*$".r
  private val deleteUsingRe =
    ("(?is)^\\s*DELETE\\s+FROM\\s+([\\w.`\"]+)\\s+USING\\s+(.+?)" +
      "\\s+WHERE\\s+(.+?)(?:\\s+RETURNING\\s+(.+?))?\\s*$").r

  /** `UPDATE t SET … FROM src WHERE cond [RETURNING …]` split at its
    * top-level keywords, so `SET a = (SELECT max(x) FROM s)` or
    * `extract(epoch FROM ts)` never trips the joined form; no match when
    * there is no top-level FROM (plain UPDATE handles it). */
  private object UpdateFrom {
    def unapply(sql0: String): Option[(String, String, String, String, Option[String])] =
      sql0 match {
        case updateHeadRe(table, rest) =>
          val toks = Lexer.lex(rest)
          val from = Lexer.topLevelKeyword(toks, "FROM")
          val where = if (from < 0) -1 else Lexer.topLevelKeyword(toks, "WHERE", from + 1)
          if (where < 0) None
          else {
            val ret = Lexer.topLevelKeyword(toks, "RETURNING", where + 1)
            def text(a: Int, b: Int) = Lexer.render(toks.slice(a, b)).trim
            val end = if (ret < 0) toks.length else ret
            Some((table, text(0, from), text(from + 1, where), text(where + 1, end),
              if (ret < 0) None else Some(text(ret + 1, toks.length))))
          }
        case _ => None
      }
  }
  private val truncateBareRe =
    "(?is)^\\s*TRUNCATE\\s+(?!TABLE\\b)([\\w.`\"]+)\\s*;?\\s*$".r

  /** What one DML form hands `copyOnWrite`:
    *   - `perFile`: (file path as `_metadata.file_path` spells it, matched
    *     rows) for each file holding a match — built, not yet run;
    *   - `rewrite`: the new rows of the files the prune predicate keeps
    *     (`"true"` keeps every file);
    *   - `returned`: the RETURNING rows under the prune, pinned so they
    *     survive the swap. */
  private final case class CowForm(perFile: DataFrame,
      rewrite: String => DataFrame, returned: String => DataFrame)

  /** The target scan tagged with each row's COW identity. */
  private def idScan(table: String): String =
    s"SELECT *, _metadata.file_path AS __g_f, _metadata.row_index AS __g_r FROM $table"

  /** Per-file matched counts of a plain (unjoined) DML: one pushed-filter
    * scan grouped by file, which is also the matched-row count. */
  private def perFileMatches(spark: SparkSession, table: String,
      where: Option[String]): DataFrame =
    sql(spark, s"SELECT _metadata.file_path AS f, CAST(count(*) AS BIGINT) AS c " +
      s"FROM $table${where.fold("")(w => s" WHERE ($w)")} GROUP BY _metadata.file_path")

  /** The copy-on-write driver (steps in the section comment above). `form`
    * is built under the lock, after the listing, so its frames see exactly
    * the listed files; an analysis error in it surfaces before any job. */
  private def copyOnWrite(spark: SparkSession, table: String,
      returning: Option[String])(form: => CowForm): DataFrame =
    tableWriteLock(table).synchronized {
      requireDmlTarget(spark, table)
      val files = spark.table(table).inputFiles.toSeq
      val f = form
      val perFile = if (files.isEmpty) Array.empty[org.apache.spark.sql.Row]
        else f.perFile.collect()
      val matched = perFile.map(_.getLong(1)).sum
      val affected = perFile.map(_.getString(0)).toSeq
      val affectedSet = affected.map(fsPath).toSet
      val untouched = files.filterNot(p => affectedSet.contains(fsPath(p)))
      // hard links need the local filesystem (an hdfs:// or s3a:// path's
      // URI path also starts with "/", so test the spelling itself)
      val link =
        if (matched == 0L || files.forall(p => p.startsWith("/") || p.startsWith("file:")))
          untouched
        else Nil
      val rows =
        if (matched == 0L) returning.map(_ => sql(spark, s"SELECT * FROM $table WHERE false"))
        else withViews(spark) { views =>
          val prune = if (link.isEmpty) "true" else filePrune(spark, views, affected)
          val pinned = returning.map(_ => f.returned(prune))
          swap(spark, table, f.rewrite(prune), link)
          pinned
        }
      lastCowStats.set((files.length, files.length - link.length, link.length))
      (rows, returning) match {
        case (Some(r), Some(proj)) => returningFrame(spark, r, proj)
        case _ =>
          import spark.implicits._
          Seq(matched).toDF("Count")
      }
    }

  /** `UPDATE t SET … FROM src WHERE cond` — the joined-update form. One
    * inner join against the source emits only the matched target rows —
    * their post-SET values plus their (file, row) identity — checkpointed
    * once (size = matched rows, not the table). The counts, the RETURNING
    * rows and the rewrite all derive from that checkpoint: affected files
    * are re-read and LEFT-joined against it on the (file, row) key
    * (broadcast when small). Each target row takes the SET expressions
    * from its FIRST matching source row; SET and WHERE see both the target
    * name and the source alias, exactly DuckDB's scoping. */
  private def runUpdateFrom(spark: SparkSession, table0: String,
      setClause: String, fromSrc: String, where: String,
      returning: Option[String]): DataFrame = {
    val table = table0.replaceAll("[`\"]", "")
    // the source gets the __g_m match marker inside a derived table that
    // is RE-ALIASED under the user's own alias (or the bare relation
    // name), so SET and WHERE resolve exactly as written
    val srcAliasRe = "(?is)^(.+?)\\s+(?:AS\\s+)?([A-Za-z_][\\w]*)$".r
    val (srcRel, srcAlias) = fromSrc.trim match {
      case srcAliasRe(rel, al)
          if !Set("BY", "GROUP", "ORDER", "WHERE").contains(al.toUpperCase) &&
            rel.trim.nonEmpty => (rel.trim, al)
      case s0 => (s0, s0.replaceAll("[`\"]", ""))
    }
    // multi-match contract (r8, probe-pinned on DuckDB 1.0): when several
    // source rows match one target row, DuckDB applies the FIRST source
    // row in scan order (no error; probed {(1,200),(1,100)} → 200,
    // range(5) → 0). For file-backed sources, (file write order,
    // _metadata.row_index) IS insertion order (file bin-packing reorders
    // read partitions by size, so a generated row id is NOT).
    // When every source file is a standard part-NNNNN, the part number
    // packs with row_index into ONE bigint — a 60-byte path string per
    // joined row through the exchange+sort measured q188 2.4 → 3.1 s;
    // non-part file names keep the exact (path, row_index) pair. A source
    // with no file identity (a subquery, a view over a join) has no scan
    // order to honour: its pick among several matches is engine-defined.
    val partFileRe = ".*/part-(\\d+)[^/]*".r
    val srcFiles: Option[Array[String]] =
      if (bareNameRe.pattern.matcher(srcRel.trim).matches())
        try {
          val t = spark.table(srcRel.trim.replaceAll("[`\"]", ""))
          // metadata columns resolve on tables/direct file relations but
          // NOT through temp-view projections — the select() analyzes
          // eagerly and throws exactly when the SQL form would
          t.select(org.apache.spark.sql.functions.col("_metadata.file_path"),
            org.apache.spark.sql.functions.col("_metadata.row_index"))
          val plan = t.queryExecution.optimizedPlan
          val simple = !plan.exists {
            case _: org.apache.spark.sql.catalyst.plans.logical.Join => true
            case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate => true
            case _: org.apache.spark.sql.catalyst.plans.logical.Generate => true
            case _ => false
          }
          if (simple) Some(t.inputFiles) else None
        } catch { case _: Throwable => None }
      else None
    val sidCols = srcFiles match {
      case Some(fs) if fs.length == 1 =>
        // single file: row_index alone is the scan order
        "_metadata.row_index AS __g_srow"
      case Some(fs) if fs.nonEmpty &&
          fs.forall(partFileRe.pattern.matcher(_).matches()) &&
          fs.map { f => partFileRe.findFirstMatchIn(f).get.group(1) }
            .distinct.length == fs.length =>
        // part number << 40 | row_index: one long, exact write order.
        // Distinctness guard (advice r8): a table built from N appends
        // holds one part-00000-<uuid> PER append job, so packed values
        // would collide across files and the row_number tiebreak would
        // go nondeterministic — colliding layouts keep the exact
        // (path, row_index) pair below.
        // single backslash: literals are verbatim under
        // escapedStringLiterals=true (r10)
        s"((CAST(regexp_extract(_metadata.file_path, 'part-(\\d+)', 1) AS BIGINT) * ${1L << 40}) + _metadata.row_index) AS __g_srow"
      case Some(_) =>
        "_metadata.file_path AS __g_sfile, _metadata.row_index AS __g_srow"
      case None => "0 AS __g_srow"
    }
    val sfileSort = if (sidCols.contains("__g_sfile")) "__g_sfile, " else ""
    // The predicate is NOT coalesce-wrapped: in JOIN ON a NULL condition
    // already means no-match, and the naked conjunction lets Catalyst
    // split it, push source-only filters into the scan, and detect
    // equi-join keys (→ broadcast).
    copyOnWrite(spark, table, returning) {
      val cols = setColumns(spark, table, setClause)
      val fields = cols.map(_._1)
      val selectList = cols.map {
        case (f, Some(e)) =>
          s"CAST(CASE WHEN __g_m THEN ($e) ELSE $table.${f.name} END AS ${f.dataType.sql}) AS ${f.name}"
        case (f, None) => s"$table.${f.name} AS ${f.name}"
      }
      // lazy checkpoint: materialized by the per-file count (one job, not two)
      val matched = sql(spark,
        s"SELECT ${fields.map(_.name).mkString(", ")}, __g_f, __g_r FROM (" +
          s"SELECT ${selectList.mkString(", ")}, __g_f, __g_r, " +
          s"row_number() OVER (PARTITION BY __g_f, __g_r ORDER BY ${sfileSort}__g_srow) AS __g_rn " +
          s"FROM (${idScan(table)}) $table " +
          s"JOIN (SELECT *, true AS __g_m, $sidCols FROM $srcRel) $srcAlias " +
          s"ON ($where)) WHERE __g_rn = 1").localCheckpoint(false)
      import org.apache.spark.sql.functions.{col, lit, when}
      val mPref = matched.select(
        fields.map(f => matched(f.name).as(s"__g_n_${f.name}")) ++
          Seq(matched("__g_f"), matched("__g_r"), lit(true).as("__g_hit")): _*)
      CowForm(matched.groupBy("__g_f").count(),
        prune => sql(spark, s"${idScan(table)} WHERE $prune")
          .join(mPref, Seq("__g_f", "__g_r"), "left")
          .select(fields.map(f =>
            when(col("__g_hit"), col(s"__g_n_${f.name}"))
              .otherwise(col(f.name)).as(f.name)): _*),
        _ => matched.drop("__g_f", "__g_r"))
    }
  }

  /** `DELETE FROM t USING src WHERE cond` — rows with ANY match are
    * removed (NULL/FALSE conditions keep the row, the plain-DELETE
    * contract). One join against the source emits the removed rows with
    * their (file, row) identity, one row per id, checkpointed once: the
    * rewrite anti-joins the affected files against the ids, RETURNING
    * reads the checkpoint. */
  private def runDeleteUsing(spark: SparkSession, table0: String,
      using: String, where: String, returning: Option[String]): DataFrame = {
    val table = table0.replaceAll("[`\"]", "")
    copyOnWrite(spark, table, returning) {
      // INNER JOIN + de-duplication, not LEFT SEMI: a semi join can only
      // broadcast-build its right (source) side, while the inner form
      // lets AQE broadcast whichever side is smaller — usually the
      // pruned target probe, with the source streaming past it.
      // Lazy checkpoint: materialized by the per-file count.
      val matched = sql(spark, s"SELECT $table.* FROM (${idScan(table)}) $table " +
        s"JOIN $using ON ($where)").dropDuplicates("__g_f", "__g_r").localCheckpoint(false)
      val ids = matched.select("__g_f", "__g_r")
      CowForm(matched.groupBy("__g_f").count(),
        prune => sql(spark, s"${idScan(table)} WHERE $prune")
          .join(ids, Seq("__g_f", "__g_r"), "anti").drop("__g_f", "__g_r"),
        _ => matched.drop("__g_f", "__g_r"))
    }
  }
  // INSERT … RETURNING (r7): DuckDB returns the inserted rows (after
  // defaults/column-list completion) projected through the RETURNING list.
  private val insertReturningRe =
    "(?is)^\\s*INSERT\\s+INTO\\s+([\\w.`\"]+)\\s*(\\([^)]*\\))?\\s*(VALUES\\s*.+?|SELECT\\s+.+?|FROM\\s+.+?)\\s+RETURNING\\s+(.+?)\\s*$".r

  /** DuckDB `INSERT INTO t [(cols)] <source> RETURNING <proj>`: evaluate
    * the source ONCE (localCheckpoint — correct for self-referencing
    * inserts and nondeterministic sources), complete missing columns with
    * typed NULLs in table order, append, and return the inserted rows
    * through the (dialect-translated) RETURNING projection. */
  private def runInsertReturning(spark: SparkSession, table0: String,
      colList: Option[String], body: String, proj: String): DataFrame = {
    val table = table0.replaceAll("[`\"]", "")
    val src = sql(spark,
      if (body.trim.toUpperCase.startsWith("VALUES")) s"SELECT * FROM $body"
      else body)
    val schema = spark.table(table).schema
    val given = colList
      .map(_.stripPrefix("(").stripSuffix(")").split(",")
        .map(_.trim.replaceAll("[`\"]", "")).toSeq)
      .getOrElse(schema.fieldNames.toSeq)
    require(src.columns.length == given.length,
      s"INSERT column count ${given.length} does not match source width ${src.columns.length}")
    val named = src.toDF(given: _*)
    val lowerGiven = given.map(_.toLowerCase)
    import org.apache.spark.sql.functions.{col, lit}
    val full = named.select(schema.fields.toSeq.map { f =>
      if (lowerGiven.contains(f.name.toLowerCase))
        col(given(lowerGiven.indexOf(f.name.toLowerCase))).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
    val rows = full.localCheckpoint(true)
    tableWriteLock(table).synchronized {
      rows.write.mode("append").insertInto(table)
    }
    bumpDataVersion() // append: schema unchanged (r17)
    returningFrame(spark, rows, proj)
  }
  private val updateRe =
    "(?is)^\\s*UPDATE\\s+([\\w.`\"]+)\\s+SET\\s+(.+?)(?:\\s+WHERE\\s+(.+?))?(?:\\s+RETURNING\\s+(.+?))?\\s*$".r

  /** Full-table-rewrite counter — PlanAudit asserts the q178 ALTER chain
    * pays at most ONE rewrite (the r8 coalescer contract). */
  private[graft] val swapCount = new java.util.concurrent.atomic.AtomicLong(0)

  /** Replace `table` by `rows` atomically — the one swap behind DML, the
    * ALTER column ops and compaction. The rows land in a tmp table; each
    * file in `link` (the untouched files of a COW DML) is hard-linked into
    * its directory (copy fallback for filesystems without links); then the
    * original is dropped and the tmp renamed over it, all under the
    * table's write lock. Parquet files are never mutated in place, so
    * sharing inodes is safe, and the original directory is untouched
    * until the rename: a crash leaves the table intact. A selective DML on
    * a 100 TB table therefore costs O(affected files) — the single-node
    * equivalent of a manifest commit carrying immutable files forward.
    * `schemaChanged` = true only for the ALTER callers — row rewrites
    * keep the schema and take the cheaper data-version bump (r17). */
  private[graft] def swap(spark: SparkSession, table: String, rows: DataFrame,
      link: Seq[String] = Nil, schemaChanged: Boolean = false): Unit = {
    swapCount.incrementAndGet()
    val tmp = table + "__rewriting"
    tableWriteLock(table).synchronized {
      spark.sql(s"DROP TABLE IF EXISTS $tmp")
      rows.write.format("parquet").saveAsTable(tmp)
      if (link.nonEmpty) {
        val dir = java.nio.file.Paths.get(fsPath(
          spark.sessionState.catalog.getTableMetadata(
            spark.sessionState.sqlParser.parseTableIdentifier(tmp)).location.toString))
        link.zipWithIndex.foreach { case (f, i) =>
          val src = java.nio.file.Paths.get(fsPath(f))
          val dst0 = dir.resolve(src.getFileName)
          val dst = if (java.nio.file.Files.exists(dst0))
            dir.resolve(s"link-$i-${src.getFileName}") else dst0
          try java.nio.file.Files.createLink(dst, src)
          catch {
            case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
              java.nio.file.Files.copy(src, dst)
          }
        }
      }
      spark.sql(s"DROP TABLE $table")
      spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    }
    spark.catalog.refreshTable(table)
    if (schemaChanged) bumpCatalogVersion() else bumpDataVersion()
  }

  /** File stats of the last copy-on-write DML — PlanAudit asserts a
    * selective UPDATE/DELETE on a multi-file table links (rather than
    * rewrites) at least one file. (total, affected=rewritten, linked). */
  private[graft] val lastCowStats =
    new java.util.concurrent.atomic.AtomicReference[(Int, Int, Int)]((0, 0, 0))

  /** URI → plain filesystem path (`file:///x` and `/x` both → `/x`). */
  private def fsPath(s: String): String =
    try {
      val p = new java.net.URI(s).getPath
      if (p == null || p.isEmpty) s else p
    } catch { case _: Exception => s }

  /** Which prune shape the last COW DML built — "literal" below the
    * threshold, "semijoin" above. PlanAudit and the COW spec assert the
    * switch actually fires. */
  private[graft] val lastCowPrune =
    new java.util.concurrent.atomic.AtomicReference[String]("")

  /** A DML's RETURNING projection over `rows`, through a statement-scoped
    * view: dropped as soon as the frame is analyzed. */
  private def returningFrame(spark: SparkSession, rows: DataFrame, proj: String): DataFrame =
    withViews(spark)(v => sql(spark, s"SELECT $proj FROM ${v.add("returning", rows)}"))

  /** Affected-file scan prune (r10, VERDICT r9 #5). Below
    * `graft.cow.inlist.max` files (default 1000): a literal IN list —
    * Catalyst converts it to an O(1) InSet and statically prunes the file
    * index, so a selective DML reads only affected bytes. Above it: an
    * IN-subquery against a LocalRelation of paths (a statement-scoped
    * view), planned as a broadcast semi-join — a broad UPDATE touching
    * 10⁵–10⁶ files of a 100 TB table would otherwise build a multi-MB SQL
    * literal with a matching parse bill (measured on this box: 10⁵ paths
    * ≈ 8.5 MB SQL, 1.74 s parse+optimize vs 0.22 s via the subquery; at
    * 10³–10⁴ both are noise, and the literal's static file pruning wins
    * there). */
  private def filePrune(spark: SparkSession, views: StatementViews,
      files: Seq[String]): String = {
    val max = try spark.conf.get("graft.cow.inlist.max", "1000").toInt
      catch { case _: Exception => 1000 }
    if (files.length <= max) {
      lastCowPrune.set("literal")
      "_metadata.file_path IN " +
        files.map(f => "'" + f.replace("'", "''") + "'").mkString("(", ", ", ")")
    } else {
      lastCowPrune.set("semijoin")
      import spark.implicits._
      s"_metadata.file_path IN (SELECT __g_path FROM ${views.add("cow_affected", files.toDF("__g_path"))})"
    }
  }

  /** DML requires a real (managed/external) catalog table whose rows carry
    * `_metadata.file_path` — the COW row identity. tableExists is true for
    * temp views too, and a DELETE against a fixture view would otherwise
    * drop the view and swap a managed table in over it. */
  private def requireDmlTarget(spark: SparkSession, table: String): Unit = {
    val ok = try {
      val t = spark.catalog.getTable(table)
      // select() analyzes eagerly: it throws when _metadata does not resolve
      (t.tableType == "MANAGED" || t.tableType == "EXTERNAL") && {
        spark.table(table).select(org.apache.spark.sql.functions.col("_metadata.file_path"))
        true
      }
    } catch { case _: Exception => false }
    require(ok, s"DML target '$table' is not a file-backed managed catalog table")
  }

  private def runDelete(spark: SparkSession, table0: String,
      where0: String, returning: Option[String]): DataFrame = {
    val table = table0.replaceAll("[`\"]", "")
    val where = Option(where0).filter(_.trim.nonEmpty)
    // SQL DELETE removes rows where the predicate is TRUE; FALSE and NULL
    // survive — hence NOT coalesce(pred, false)
    val hit = where.fold("true")(w => s"coalesce(($w), false)")
    copyOnWrite(spark, table, returning)(CowForm(perFileMatches(spark, table, where),
      prune => sql(spark, s"SELECT * FROM $table WHERE $prune AND NOT $hit"),
      prune => sql(spark, s"SELECT * FROM $table WHERE $prune AND $hit").localCheckpoint(true)))
  }

  /** Each column of `table` with the expression its SET clause assigns
    * it, if any; the clause's `col = expr` items split on top-level
    * commas. */
  private def setColumns(spark: SparkSession, table: String,
      setClause: String): Seq[(org.apache.spark.sql.types.StructField, Option[String])] = {
    val sets = Lexer.splitTopLevel(Lexer.lex(setClause), nested = true).map { a =>
      val eq = a.indexOf(Punct("="))
      val col = Lexer.render(a.take(math.max(eq, 0))).trim
      require(eq > 0 && col.nonEmpty, s"malformed SET assignment: ${Lexer.render(a)}")
      (col.replaceAll("[`\"]", ""), Lexer.render(a.drop(eq + 1)).trim)
    }
    val fields = spark.table(table).schema.fields.toSeq
    sets.foreach { case (c, _) =>
      require(fields.exists(_.name.equalsIgnoreCase(c)), s"unknown column in SET: $c")
    }
    fields.map(f => f -> sets.find(_._1.equalsIgnoreCase(f.name)).map(_._2))
  }

  private def runUpdate(spark: SparkSession, table0: String, setClause: String,
      where: Option[String], returning: Option[String]): DataFrame = {
    val table = table0.replaceAll("[`\"]", "")
    copyOnWrite(spark, table, returning) {
      val cols = setColumns(spark, table, setClause)
      val hit = where.fold("true")(w => s"coalesce(($w), false)")
      // cast to the column's type (DuckDB UPDATE coerces the same way);
      // the rewrite guards each SET by the predicate, RETURNING (DuckDB's
      // NEW rows of the matched set) reads matched rows only
      def setList(guard: Boolean): String = cols.map {
        case (f, Some(e)) =>
          val v = if (guard && where.isDefined)
            s"CASE WHEN $hit THEN ($e) ELSE ${f.name} END" else s"($e)"
          s"CAST($v AS ${f.dataType.sql}) AS ${f.name}"
        case (f, None) => f.name
      }.mkString(", ")
      CowForm(perFileMatches(spark, table, where),
        prune => sql(spark, s"SELECT ${setList(guard = true)} FROM $table WHERE $prune"),
        prune => sql(spark, s"SELECT ${setList(guard = false)} FROM $table " +
          s"WHERE $prune AND $hit").localCheckpoint(true))
    }
  }

  // ---- prepared statements (r7 session 3) -----------------------------
  // DuckDB PREPARE name AS <sql> / EXECUTE name(args) / DEALLOCATE
  // [PREPARE] name. Parameters are `$1..$n` (positional) or `?` (filled
  // left-to-right); EXECUTE splices the literal argument texts into the
  // stored DuckDB SQL (skipping string literals) and runs it through the
  // normal dialect path — so a prepared statement supports everything a
  // direct statement does. Statements belong to their session
  // (`SessionState`).
  private val prepareRe =
    "(?is)^\\s*PREPARE\\s+([\\w`\"]+)\\s+AS\\s+(.+?)\\s*;?\\s*$".r
  private val executeRe =
    "(?is)^\\s*EXECUTE\\s+([\\w`\"]+)\\s*(?:\\((.*)\\))?\\s*;?\\s*$".r
  private val deallocRe =
    "(?is)^\\s*DEALLOCATE\\s+(?:PREPARE\\s+)?([\\w`\"]+)\\s*;?\\s*$".r

  /** An EXECUTE argument list split on top-level commas. */
  private def splitArgs(s: String): Seq[String] = {
    val args = Lexer.splitTopLevel(Lexer.lex(s), nested = true).map(Lexer.render(_).trim)
    if (args.last.isEmpty) args.init else args
  }

  /** `$k` / `?` placeholders replaced by their parenthesized arguments. A
    * placeholder is a `?` token or a `$` token followed by a number token,
    * so a literal, a quoted name or a comment never holds one. */
  private def bindParams(sql: String, args: Seq[String]): String = {
    val toks = Lexer.lex(sql)
    val out = new StringBuilder
    var i = 0; var qIdx = 0
    def bind(k: Int): Unit = out.append("(").append(args(k)).append(")")
    while (i < toks.length) {
      toks(i) match {
        case Punct("$") if i + 1 < toks.length && (toks(i + 1) match {
              case Num(n) => n.forall(_.isDigit); case _ => false }) =>
          val k = toks(i + 1).text.toInt
          require(k >= 1 && k <= args.length,
            s"EXECUTE: parameter $$$k has no argument (got ${args.length})")
          bind(k - 1); i += 2
        case Punct("?") =>
          require(qIdx < args.length,
            s"EXECUTE: more ? placeholders than arguments (${args.length})")
          bind(qIdx); qIdx += 1; i += 1
        case t => out.append(t.text); i += 1
      }
    }
    out.toString
  }

  // ---- ALTER TABLE column surface (r7 session 3) ----------------------
  // DuckDB semantics probe-pinned on 1.0: ADD COLUMN fills existing rows
  // with the DEFAULT (NULL absent), duplicate-add errors unless IF NOT
  // EXISTS; DROP of a missing column errors unless IF EXISTS; RENAME
  // [COLUMN] a TO b; ALTER [COLUMN] c [SET DATA] TYPE T [USING expr].
  // Spark's v1 parquet tables can only ADD; everything else rewrites the
  // table through `swap` (the UPDATE/DELETE machinery) — column ops on
  // a warehouse table are full rewrites at any scale, same as DuckDB's
  // own storage-level behavior for type changes.
  private val alterAddColRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+([\\w.`\"]+)\\s+ADD\\s+(?:COLUMN\\s+)?" +
      "(IF\\s+NOT\\s+EXISTS\\s+)?([\\w`\"]+)\\s+([\\w(),\\[\\] ]+?)" +
      "(?:\\s+DEFAULT\\s+(.+?))?\\s*;?\\s*$").r
  private val alterDropColRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+([\\w.`\"]+)\\s+DROP\\s+(?:COLUMN\\s+)?" +
      "(IF\\s+EXISTS\\s+)?([\\w`\"]+)\\s*;?\\s*$").r
  private val alterRenameColRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+([\\w.`\"]+)\\s+RENAME\\s+(?:COLUMN\\s+)?" +
      "(?!TO\\s)([\\w`\"]+)\\s+TO\\s+([\\w`\"]+)\\s*;?\\s*$").r
  private val alterTypeRe =
    ("(?is)^\\s*ALTER\\s+TABLE\\s+([\\w.`\"]+)\\s+ALTER\\s+(?:COLUMN\\s+)?" +
      "([\\w`\"]+)\\s+(?:SET\\s+DATA\\s+)?TYPE\\s+([\\w(),\\[\\] ]+?)" +
      "(?:\\s+USING\\s+(.+?))?\\s*;?\\s*$").r

  /** Parsed ALTER TABLE column op (shared by the single-statement path and
    * the script-level chain coalescer). */
  private sealed trait AlterOp
  private case class AlterAdd(ifNot: Boolean, col: String, typ: String,
      dflt: Option[String]) extends AlterOp
  private case class AlterDrop(ifEx: Boolean, col: String) extends AlterOp
  private case class AlterRename(from: String, to: String) extends AlterOp
  private case class AlterRetype(col: String, typ: String,
      using: Option[String]) extends AlterOp

  private def parseAlterOp(duckSql: String): Option[(String, AlterOp)] = {
    def clean(s: String) = s.replaceAll("[`\"]", "")
    duckSql match {
      case alterAddColRe(t, ifNot, c, typ, dflt) =>
        Some((clean(t), AlterAdd(ifNot != null, clean(c), typ, Option(dflt))))
      case alterDropColRe(t, ifEx, c) =>
        Some((clean(t), AlterDrop(ifEx != null, clean(c))))
      case alterRenameColRe(t, a, b) =>
        Some((clean(t), AlterRename(clean(a), clean(b))))
      case alterTypeRe(t, c, typ, using) =>
        Some((clean(t), AlterRetype(clean(c), typ, Option(using))))
      case _ => None
    }
  }

  /** Bare constant literal (number, string, NULL, TRUE/FALSE) — the
    * defaults eligible for the metadata-only native ADD COLUMNS path
    * (Spark requires a foldable DEFAULT, and these render identically in
    * both dialects; anything else falls back to the rewrite). */
  private val constantDefaultRe =
    // plain strings only (no '' escapes — Spark's DDL parser handles
    // embedded quotes differently, those fall to the rewrite path)
    "(?is)^\\s*(?:NULL|TRUE|FALSE|-?\\d+(?:\\.\\d+)?|'[^']*')\\s*$".r

  /** Apply `ops` to a symbolic column list (name → defining expr over the
    * ORIGINAL table), reproducing DuckDB's probe-pinned error texts.
    * Column references inside USING / DEFAULT expressions are substituted
    * with their current defining exprs, so a chain like RENAME pri TO
    * prio; ALTER flag TYPE … USING prio || flag resolves against the
    * original scan. Pure — throws without touching the table. */
  private def foldAlterOps(fields: Seq[String], table: String,
      ops: Seq[AlterOp]): Seq[(String, String)] = {
    def substitute(expr: String, cols: Seq[(String, String)]): String = {
      val toks = Lexer.lex(expr)
      val out = toks.zipWithIndex.map { case (tk, i) =>
        tk match {
          case id: Ident =>
            // column reference, bare or quoted (not a function call, not
            // dotted) — quoted idents have upper == "", so compare on the
            // unquoted text
            val name = id.text.replaceAll("[`\"]", "")
            val next = Lexer.nextNonWs(toks, i)
            val isCall = next < toks.length && toks(next) == Punct("(")
            val prev = Lexer.prevNonWs(toks, i)
            val isDotted = prev >= 0 && toks(prev) == Punct(".")
            cols.find(_._1.equalsIgnoreCase(name)) match {
              case Some((_, e)) if !isCall && !isDotted => (Ident(s"($e)"): Tok)
              case _ => tk
            }
          case _ => tk
        }
      }
      Lexer.render(out)
    }
    var cols: Seq[(String, String)] = fields.map(f => f -> f)
    ops.foreach {
      case AlterAdd(ifNot, c, typ, dflt) =>
        if (cols.exists(_._1.equalsIgnoreCase(c))) {
          if (!ifNot) throw new IllegalStateException(
            s"Catalog Error: Column with name $c already exists!")
        } else {
          val d = dflt.getOrElse("NULL")
          cols = cols :+ (c -> s"CAST((${substitute(d, cols)}) AS $typ)")
        }
      case AlterDrop(ifEx, c) =>
        if (!cols.exists(_._1.equalsIgnoreCase(c))) {
          if (!ifEx) throw new IllegalStateException(
            s"""Binder Error: Table "$table" does not have a column with name "$c"""")
        } else cols = cols.filterNot(_._1.equalsIgnoreCase(c))
      case AlterRename(a, b) =>
        if (!cols.exists(_._1.equalsIgnoreCase(a)))
          throw new IllegalStateException(
            s"""Binder Error: Table "$table" does not have a column with name "$a"""")
        cols = cols.map { case (n, e) => if (n.equalsIgnoreCase(a)) (b, e) else (n, e) }
      case AlterRetype(c, typ, using) =>
        cols.find(_._1.equalsIgnoreCase(c)) match {
          case None => throw new IllegalStateException(
            s"""Binder Error: Table "$table" does not have a column with name "$c"""")
          case Some((_, curExpr)) =>
            val src = using.map(substitute(_, cols)).getOrElse(curExpr)
            cols = cols.map { case (n2, e2) =>
              if (n2.equalsIgnoreCase(c)) (n2, s"CAST(($src) AS $typ)") else (n2, e2)
            }
        }
    }
    cols
  }

  /** `table` projected onto a folded column list. */
  private def alterProjection(spark: SparkSession, table: String,
      cols: Seq[(String, String)]): DataFrame =
    sql(spark, cols.map { case (n, e) => if (e == n) n else s"($e) AS $n" }
      .mkString("SELECT ", ", ", s" FROM $table"))

  /** Metadata-only ADD COLUMN: Spark 4's native ADD COLUMNS with a
    * constant DEFAULT fills existing rows via the exists-default without
    * rewriting a byte (probe-verified on parquet v1) — at 100 TB that is
    * the difference between O(1) and a full corpus pass. The Spark-side
    * type spelling comes from casting NULL through the dialect layer. */
  private def nativeAddColumn(spark: SparkSession, t: String,
      op: AlterAdd): Boolean = {
    if (!op.dflt.forall(d => constantDefaultRe.pattern.matcher(d).matches()))
      return false
    val sparkType = try
      sql(spark, s"SELECT CAST(NULL AS ${op.typ}) AS x").schema.head.dataType.sql
    catch { case _: Throwable => return false }
    val defaultClause = op.dflt.map(d => s" DEFAULT $d").getOrElse("")
    try {
      tableWriteLock(t).synchronized {
        spark.sql(s"ALTER TABLE $t ADD COLUMNS (${op.col} $sparkType$defaultClause)")
      }
      bumpCatalogVersion()
      true
    } catch { case _: Throwable => false }
  }

  /** Coalesced execution of consecutive ALTER TABLE column ops on one
    * table: validate symbolically, then pay ONE rewrite (or zero, when
    * every op is a constant-default ADD). Falls back to caller-side
    * sequential execution when symbolic validation fails, reproducing
    * DuckDB's statement-level partial application on mid-chain errors. */
  private[graft] def runAlterChain(spark: SparkSession, table: String,
      ops: Seq[AlterOp]): Boolean = {
    requireDmlTarget(spark, table)
    val fields = spark.table(table).schema.fieldNames.toSeq
    val cols = try foldAlterOps(fields, table, ops)
      catch { case _: Throwable => return false }
    val allNativeAdds = ops.forall {
      case a: AlterAdd => a.dflt.forall(d =>
        constantDefaultRe.pattern.matcher(d).matches())
      case _ => false
    }
    if (allNativeAdds) {
      val adds = ops.collect { case a: AlterAdd => a }
        .filter(a => !fields.exists(_.equalsIgnoreCase(a.col)))
      // probe type applicability for the WHOLE chain before mutating —
      // a forall short-circuit after the first committed ADD would hand
      // a partially-applied table to the per-statement fallback, which
      // then re-ADDs the committed column (advice r8)
      val typesOk = adds.forall(a =>
        try { sql(spark, s"SELECT CAST(NULL AS ${a.typ}) AS x"); true }
        catch { case _: Throwable => false })
      if (typesOk) {
        var k = 0
        while (k < adds.length && nativeAddColumn(spark, table, adds(k))) k += 1
        if (k == adds.length) return true
        // mid-chain native failure AFTER commits: finish the remaining
        // adds with one projection over the POST-mutation schema; a
        // failure here must surface loudly — returning false would
        // double-apply the committed prefix
        val fields2 = spark.table(table).schema.fieldNames.toSeq
        val projected2 =
          try alterProjection(spark, table, foldAlterOps(fields2, table, adds.drop(k)))
          catch { case e: Throwable => if (k > 0) throw e else return false }
        swap(spark, table, projected2, schemaChanged = true)
        return true
      }
    }
    // a post-validation failure (e.g. a substituted expression the
    // original scan can't resolve) falls back to per-statement execution:
    // the projection is built BEFORE any table mutation, so the target is
    // still intact here
    val projected = try alterProjection(spark, table, cols)
      catch { case _: Throwable => return false }
    swap(spark, table, projected, schemaChanged = true)
    true
  }

  private def runAlterColumn(spark: SparkSession, duckSql: String): Option[DataFrame] = {
    parseAlterOp(duckSql).map { case (t, op) =>
      requireDmlTarget(spark, t)
      val fields = spark.table(t).schema.fieldNames.toSeq
      // IF NOT EXISTS / IF EXISTS no-ops short-circuit before any work
      op match {
        case AlterAdd(ifNot, c, _, _) if fields.exists(_.equalsIgnoreCase(c)) =>
          if (!ifNot) throw new IllegalStateException(
            s"Catalog Error: Column with name $c already exists!")
          return Some(spark.emptyDataFrame)
        case AlterDrop(ifEx, c) if !fields.exists(_.equalsIgnoreCase(c)) =>
          if (!ifEx) throw new IllegalStateException(
            s"""Binder Error: Table "$t" does not have a column with name "$c"""")
          return Some(spark.emptyDataFrame)
        case _ =>
      }
      op match {
        case a: AlterAdd if nativeAddColumn(spark, t, a) => // metadata-only
        case _ =>
          swap(spark, t, alterProjection(spark, t, foldAlterOps(fields, t, Seq(op))),
            schemaChanged = true)
      }
      spark.emptyDataFrame
    }
  }

  private val createSeqRe =
    ("(?is)^\\s*CREATE\\s+(OR\\s+REPLACE\\s+)?(?:TEMP(?:ORARY)?\\s+)?SEQUENCE\\s+" +
      "(IF\\s+NOT\\s+EXISTS\\s+)?([\\w.`\"]+)(.*?)\\s*;?\\s*$").r
  private val dropSeqRe =
    "(?is)^\\s*DROP\\s+SEQUENCE\\s+(IF\\s+EXISTS\\s+)?([\\w.`\"]+)\\s*;?\\s*$".r
  private val seqStartRe = "(?is)START\\s+(?:WITH\\s+)?(-?\\d+)".r
  private val seqIncRe = "(?is)INCREMENT\\s+(?:BY\\s+)?(-?\\d+)".r
  private val createViewRe =
    ("(?is)^\\s*CREATE\\s+(OR\\s+REPLACE\\s+)?(?:TEMP(?:ORARY)?\\s+)?VIEW\\s+" +
      "(IF\\s+NOT\\s+EXISTS\\s+)?([\\w.`\"]+)\\s+AS\\s+(.+)$").r
  private val dropViewRe =
    "(?is)^\\s*DROP\\s+VIEW\\s+(?:IF\\s+EXISTS\\s+)?([\\w.`\"]+)\\s*;?\\s*$".r

  /** Re-resolve the session's user views when the data version has moved
    * since it last did: a view is a temp view over a lazy plan that pins
    * file indexes, and a DML or ALTER swap replaces the files under it,
    * where DuckDB re-resolves per query. The session claims the refresh
    * first (`Long.MaxValue` while the bodies run), so their nested `sql`
    * calls, and its other statements meanwhile, return at once. */
  private def refreshViews(spark: SparkSession, st: SessionState): Unit = {
    val v = dataVersion.get()
    val seen = st.viewsVersion.get()
    if (seen >= v || st.views.isEmpty ||
        !st.viewsVersion.compareAndSet(seen, Long.MaxValue)) return
    try st.views.forEach { (n, body) =>
      try sql(spark, body).createOrReplaceTempView(n)
      catch {
        case _: Throwable =>
          // underlying changed incompatibly: drop the stale pinned plan so
          // the next reference fails LOUDLY instead of returning stale data
          try spark.catalog.dropTempView(n) catch { case _: Throwable => () }
      }
    } finally st.viewsVersion.set(v)
  }
  private val summarizeRe = "(?is)^\\s*SUMMARIZE\\s+(.+?)\\s*;?\\s*$".r
  private val bareNameRe = "(?s)^[\\w.`\"]+$".r
  private val asofWordRe = "(?is).*\\bASOF\\b.*".r

  /** DuckDB `SUMMARIZE <table|query>` → its exact 12-column shape
    * (column_name, column_type, min, max, approx_unique, avg, std,
    * q25/q50/q75, count, null_percentage), computed in ONE aggregate pass
    * over the summarized frame (2 aggregates per column + 5 more per
    * numeric column, all map-side combined — no per-column scans). Pinned
    * on DuckDB 1.0 probes: min/max/avg/std VARCHAR-rendered, avg/std/q*
    * NULL for non-numerics, std is the SAMPLE stddev, `count` is TOTAL
    * rows (not non-NULL), null_percentage DECIMAL(9,2) half-up. The
    * quantiles and approx_unique are approximate in BOTH engines (DuckDB
    * t-digest/HLL vs Spark G-K/HLL++), so those three columns and double
    * renderings are best-effort parity, never oracle-compared — declared
    * entries project the exact columns. The single collected row is
    * schema-width-bounded (never row-scaled). */
  private[graft] def duckdbSummarize(spark: SparkSession, inner: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val df = sql(spark, inner)
    val fields = df.schema.fields
    val aggs = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Column]()
    fields.zipWithIndex.foreach { case (f, i) =>
      val c = df(s"`${f.name}`")
      val numeric = f.dataType.isInstanceOf[NumericType]
      // min/max of arrays/maps/structs: DuckDB renders them; Spark can't
      // order them — emit NULL for unorderable types (documented edge)
      val orderable = f.dataType match {
        case _: MapType => false
        case _ => true
      }
      aggs += (if (orderable) min(c).cast("string") else lit(null).cast("string")).as(s"mn$i")
      aggs += (if (orderable) max(c).cast("string") else lit(null).cast("string")).as(s"mx$i")
      aggs += (if (orderable) approx_count_distinct(c) else lit(null).cast("long")).as(s"au$i")
      if (numeric) {
        aggs += avg(c).cast("string").as(s"av$i")
        aggs += stddev_samp(c).cast("string").as(s"sd$i")
        aggs += percentile_approx(c, lit(0.25), lit(10000)).cast("string").as(s"q1$i")
        aggs += percentile_approx(c, lit(0.5), lit(10000)).cast("string").as(s"q2$i")
        aggs += percentile_approx(c, lit(0.75), lit(10000)).cast("string").as(s"q3$i")
      }
      aggs += count(c).as(s"nn$i")
    }
    aggs += count(lit(1)).as("total")
    val row = df.agg(aggs.head, aggs.tail.toSeq: _*).head()
    def s(name: String): String =
      if (row.isNullAt(row.fieldIndex(name))) null else row.getString(row.fieldIndex(name))
    def l(name: String): java.lang.Long =
      if (row.isNullAt(row.fieldIndex(name))) null else java.lang.Long.valueOf(row.getLong(row.fieldIndex(name)))
    val total = row.getLong(row.fieldIndex("total"))
    val out = fields.zipWithIndex.map { case (f, i) =>
      val numeric = f.dataType.isInstanceOf[NumericType]
      val nonNull = row.getLong(row.fieldIndex(s"nn$i"))
      val nullPct: java.math.BigDecimal =
        if (total == 0) null
        else new java.math.BigDecimal(100.0 * (total - nonNull) / total)
          .setScale(2, java.math.RoundingMode.HALF_UP)
      org.apache.spark.sql.Row(f.name, duckTypeName(f.dataType),
        s(s"mn$i"), s(s"mx$i"), l(s"au$i"),
        if (numeric) s(s"av$i") else null,
        if (numeric) s(s"sd$i") else null,
        if (numeric) s(s"q1$i") else null,
        if (numeric) s(s"q2$i") else null,
        if (numeric) s(s"q3$i") else null,
        java.lang.Long.valueOf(total), nullPct)
    }
    val schema = StructType(Seq(
      StructField("column_name", StringType), StructField("column_type", StringType),
      StructField("min", StringType), StructField("max", StringType),
      StructField("approx_unique", LongType), StructField("avg", StringType),
      StructField("std", StringType), StructField("q25", StringType),
      StructField("q50", StringType), StructField("q75", StringType),
      StructField("count", LongType),
      StructField("null_percentage", DecimalType(9, 2))))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(out: _*)), schema)
  }

  private val callPragmaRe =
    "(?is)^\\s*CALL\\s+pragma_([\\w]+)\\s*\\(\\s*('[^']*')?\\s*\\)\\s*;?\\s*$".r

  /** `toks` rendered with spans replaced: at each token `i`, `at(i)` may
    * give the last token of a span starting there and its replacement. */
  private def replaceSpans(toks: Vector[Tok])(at: Int => Option[(Int, String)]): String = {
    val out = new StringBuilder
    var i = 0
    while (i < toks.length) at(i) match {
      case Some((end, text)) => out.append(text); i = end + 1
      case None => out.append(toks(i).text); i += 1
    }
    out.toString
  }

  /** A call at token `i` to a bare function whose lower-case name passes
    * `isFn`: its close paren and its argument tokens, whitespace and
    * comments dropped. */
  private def callAt(toks: Vector[Tok], i: Int,
      isFn: String => Boolean): Option[(Int, Vector[Tok])] = toks(i) match {
    case id: Ident if id.upper.nonEmpty && isFn(id.text.toLowerCase) =>
      val open = Lexer.nextNonWs(toks, i)
      val close = if (open < toks.length && toks(open) == Punct("("))
        Lexer.matchParen(toks, open) else -1
      if (close > open && toks(close) == Punct(")"))
        Some((close, toks.slice(open + 1, close).filterNot(_.isInstanceOf[Lexer.Ws])))
      else None
    case _ => None
  }

  /** Each no-argument call `fn()` replaced by `name`. */
  private def replaceCalls(sql: String, fn: String)(name: => String): String = {
    val toks = Lexer.lex(sql)
    replaceSpans(toks)(i => callAt(toks, i, _ == fn).collect {
      case (close, args) if args.isEmpty => (close, name)
    })
  }

  /** `FROM pragma_table_info('t')`-style table-function forms — each
    * occurrence computed via runPragma into a statement-scoped view and
    * the call text replaced by the view name (the SUMMARIZE-splice
    * pattern). */
  private def rewriteTableFnPragmas(spark: SparkSession, views: StatementViews,
      sql0: String): String = {
    val toks = Lexer.lex(sql0)
    replaceSpans(toks)(i => callAt(toks, i, _.startsWith("pragma_")).collect {
      case (close, args) if args.length <= 1 && args.forall(_.isInstanceOf[Str]) =>
        (close, views.add("pragma", runPragma(spark,
          toks(i).text.substring("pragma_".length), args.headOption.map(_.text))))
    })
  }

  /** Minimal `duckdb_tables()` (the catalog surface COMMENT ON feeds):
    * database/schema/table names, the engine-side comment, column count.
    * Bounded: one catalog listing, never data-sized. */
  private def duckdbTablesDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.catalog.listTables().collect().toSeq.map { t =>
      val cols = try spark.table(t.name).schema.length catch { case _: Throwable => 0 }
      ("memory", Option(t.database).getOrElse("main"), t.name,
        Option(state(spark).comments.get(t.name.toLowerCase)),
        t.tableType == "TEMPORARY", cols.toLong)
    }.toDF("database_name", "schema_name", "table_name", "comment",
      "temporary", "column_count")
  }

  /** Minimal `duckdb_columns()`: one row per visible column with DuckDB
    * type spellings. Bounded by the catalog. */
  private def duckdbColumnsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.catalog.listTables().collect().toSeq.flatMap { t =>
      val fields = try spark.table(t.name).schema.fields.toSeq
        catch { case _: Throwable => Seq.empty }
      fields.zipWithIndex.map { case (f, i) =>
        ("memory", Option(t.database).getOrElse("main"), t.name, f.name,
          (i + 1).toLong, duckTypeName(f.dataType), f.nullable)
      }
    }.toDF("database_name", "schema_name", "table_name", "column_name",
      "column_index", "data_type", "is_nullable")
  }

  /** Derived-table form `FROM (SUMMARIZE <inner>)` — each occurrence is
    * computed into a statement-scoped view and the parenthesized span
    * replaced by the view name, so the outer query translates normally. */
  private def rewriteEmbeddedSummarize(spark: SparkSession, views: StatementViews,
      sql0: String): String = {
    val toks = Lexer.lex(sql0)
    replaceSpans(toks) { open =>
      val kw = if (toks(open) == Punct("(")) Lexer.nextNonWs(toks, open) else toks.length
      val close = if (kw < toks.length && (toks(kw) match {
        case id: Ident => id.upper == "SUMMARIZE"; case _ => false
      })) Lexer.matchParen(toks, open) else -1
      if (close <= kw || toks(close) != Punct(")")) None
      else {
        val inner = Lexer.render(toks.slice(kw + 1, close)).trim
        val innerSql =
          if (bareNameRe.pattern.matcher(inner).matches()) s"SELECT * FROM $inner"
          else inner
        Some((close, views.add("summarize", duckdbSummarize(spark, innerSql))))
      }
    }
  }

  /** Merge-eligible `ASOF JOIN` statements run on the single-shuffle
    * union+window operator instead of the O(matches) range-join rewrite
    * (measured 2.5 s vs 1.4 s at sf≈1 on q22's shape; the gap grows with
    * match density). Returns None → caller falls back to the SQL rewrite. */
  private def tryAsofMerge(spark: SparkSession, duckSql: String): Option[DataFrame] =
    Translator.asofMergeSpec(duckSql).flatMap { sp =>
      try {
        val left = spark.table(sp.leftTable)
        val right = spark.table(sp.rightTable)
        val selectPayload = sp.selects.collect {
          case (a, c, _) if a.equalsIgnoreCase(sp.rightAlias) => c
        }.distinct
        // right columns a post-join WHERE needs ride along in the payload;
        // the outer projection drops them again
        val rightPayload = (selectPayload ++ sp.postRightCols).distinct
        // operator output = all left cols + right payload: bail out on name
        // collisions or key/time/filter columns the tables don't have
        val ok = selectPayload.nonEmpty &&
          rightPayload.forall(right.columns.contains) &&
          rightPayload.forall(!left.columns.contains(_)) &&
          left.columns.contains(sp.leftKey) && left.columns.contains(sp.leftTime) &&
          right.columns.contains(sp.rightKey) && right.columns.contains(sp.rightTime) &&
          sp.selects.forall { case (a, c, _) =>
            !a.equalsIgnoreCase(sp.leftAlias) || left.columns.contains(c)
          } &&
          sp.leftWhereCols.forall(left.columns.contains) &&
          sp.postLeftCols.forall(left.columns.contains)
        if (!ok) None
        else {
          // left-only WHERE conjuncts push below the join: an asof join
          // keeps/drops left rows wholesale, so the filter commutes — and
          // here it reaches the scan instead of sitting above the window
          val left0 = if (sp.leftWhereSql.nonEmpty) left.filter(sp.leftWhereSql) else left
          val joined = graft.operators.AsOfJoin.asof(left0, right,
            sp.leftKey, sp.rightKey, sp.leftTime, sp.rightTime,
            rightPayload, sp.direction, inner = !sp.isLeftJoin, strict = sp.strict)
          val proj = sp.selects.map { case (_, c, o) =>
            if (c == o) c else s"$c AS $o"
          }.mkString(", ")
          val post = if (sp.postWhereSql.nonEmpty) s" WHERE ${sp.postWhereSql}" else ""
          // back through the dialect layer: null-order injection etc. apply
          // to the tail exactly as they would have on the original statement
          Some(withViews(spark)(v => sql(spark,
            s"SELECT $proj FROM ${v.add("asof", joined)}$post ${sp.tailSql}".trim)))
        }
      } catch { case _: Throwable => None }
    }

  // ---- statement-scoped temp views -------------------------------------
  //
  // Frames the engine splices into a statement — the pragma, SUMMARIZE and
  // duckdb_tables()/duckdb_columns() splices, the ASOF merge, RETURNING
  // rows, the COW semijoin prune list — are registered under a unique
  // per-call name and dropped once the statement using them is analyzed
  // (`withViews`). An analyzed plan has already inlined the view, so the
  // returned frame still runs, nothing is left in the session catalog
  // (SHOW TABLES, information_schema, duckdb_tables(), Flight listings),
  // and concurrent statements on one session never share a name.

  private val viewSeq = new java.util.concurrent.atomic.AtomicLong(0)

  private final class StatementViews(spark: SparkSession) {
    private val names = scala.collection.mutable.ArrayBuffer[String]()
    /** Register `df` as `graft_<kind>_<n>`; returns the name. */
    def add(kind: String, df: DataFrame): String = {
      val name = s"graft_${kind}_${viewSeq.incrementAndGet()}"
      df.createOrReplaceTempView(name)
      names += name
      name
    }
    def dropAll(): Unit =
      names.foreach(n => try spark.catalog.dropTempView(n) catch { case _: Exception => })
  }

  private def withViews[T](spark: SparkSession)(body: StatementViews => T): T = {
    val views = new StatementViews(spark)
    try body(views) finally views.dropAll()
  }

  /** Translate one DuckDB-dialect statement and run it. */
  def sql(spark: SparkSession, duckSql0: String): DataFrame = {
    // CREATE/DROP MACRO registers in the session-scoped registry and, like
    // DuckDB, returns an empty result; macro calls expand textually before
    // any other routing (so ASOF/COPY/DML shapes see the expanded SQL)
    if (graft.dialect.Macros.tryDdl(spark, duckSql0)) return spark.emptyDataFrame
    refreshViews(spark, state(spark))
    val expanded = Lexer.routeText(graft.dialect.Macros.expand(spark, duckSql0))
    // PREPARE and CREATE VIEW store the RAW body: the splices compute
    // results eagerly into views this statement drops, and a prepared
    // statement or a user view must re-evaluate its SUMMARIZE/pragma/
    // catalog snapshots each time it runs
    if (prepareRe.pattern.matcher(expanded).matches() ||
        createViewRe.pattern.matcher(expanded).matches()) run(spark, expanded)
    else withViews(spark)(views => run(spark, splice(spark, views, expanded)))
  }

  /** Replace the statement's engine-computed relations by statement-scoped
    * views: `(SUMMARIZE …)`, `pragma_*(…)` table functions (CALL keeps its
    * text — `run` routes it to runPragma directly) and the
    * duckdb_tables()/duckdb_columns() catalog functions. Token-level: an
    * occurrence inside a literal, a quoted name or a comment stays text. */
  private def splice(spark: SparkSession, views: StatementViews, s0: String): String = {
    val s1 = if (s0.toUpperCase.contains("SUMMARIZE"))
      rewriteEmbeddedSummarize(spark, views, s0)
    else s0
    val s2 = if (s1.toLowerCase.contains("pragma_") &&
        !callPragmaRe.pattern.matcher(s1).matches())
      rewriteTableFnPragmas(spark, views, s1)
    else s1
    val s3 = if (s2.toLowerCase.contains("duckdb_tables")) {
      lazy val name = views.add("duckdb_tables", duckdbTablesDf(spark))
      replaceCalls(s2, "duckdb_tables")(name)
    } else s2
    if (s3.toLowerCase.contains("duckdb_columns")) {
      lazy val name = views.add("duckdb_columns", duckdbColumnsDf(spark))
      replaceCalls(s3, "duckdb_columns")(name)
    } else s3
  }

  /** The statement router: each route is a `^\s*KEYWORD` regex over the
    * statement's route text (`Lexer.routeText`), so a route matches from
    * the first significant token and reads every comment as whitespace.
    * A statement no route claims goes to the translator. */
  private def run(spark: SparkSession, duckSql: String): DataFrame = {
    duckSql match {
      case pragmaRe(name, callArg, eqArg) =>
        return runPragma(spark, name, Option(callArg).orElse(Option(eqArg)))
      case noopStmtRe() => return spark.emptyDataFrame
      case rollbackRe() =>
        throw new UnsupportedOperationException(
          "ROLLBACK is not supported: graft executes auto-commit (BEGIN/COMMIT are accepted as no-ops)")
      case explainRe(analyze, inner) => {
        // DuckDB EXPLAIN [ANALYZE] <query> → (plan_type, plan) rows; here
        // the translated query's Spark plan (formatted; ANALYZE executes
        // first so the plan carries AQE's final shape)
        import spark.implicits._
        val df = sql(spark, inner)
        if (analyze != null)
          df.write.format("noop").mode("overwrite").save()
        val mode = org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        val plan = df.queryExecution.explainString(mode)
        return Seq(("physical_plan", plan)).toDF("explain_key", "explain_value")
      }
      case describeSelectRe(inner) => return describe(spark, sql(spark, inner))
      case describeTableRe(t)
          if spark.catalog.tableExists(t.replaceAll("[`\"]", "")) =>
        return describe(spark, spark.table(t.replaceAll("[`\"]", "")))
      case exportDbRe(dir, _) => return runExportDb(spark, dir)
      case importDbRe(dir) => return runImportDb(spark, dir)
      case copyFromRe(table, path, opts) =>
        return runCopyFrom(spark, table, path, Option(opts).getOrElse(""))
      case copyToRe(source, path, opts) =>
        return runCopyTo(spark, source, path, Option(opts).getOrElse(""))
      case callPragmaRe(name, arg) =>
        // DuckDB `CALL pragma_<fn>(…)` — the procedure form of PRAGMA
        return runPragma(spark, name, Option(arg))
      case prepareRe(name, body) =>
        state(spark).prepared.put(name.replaceAll("[`\"]", "").toLowerCase, body)
        return spark.emptyDataFrame
      case executeRe(name0, argList) =>
        val name = name0.replaceAll("[`\"]", "").toLowerCase
        val body = state(spark).prepared.get(name)
        if (body == null) throw new IllegalStateException(
          s"EXECUTE: no prepared statement named '$name'")
        val args = Option(argList).map(splitArgs).getOrElse(Nil)
        return sql(spark, bindParams(body, args))
      case deallocRe(name0) =>
        val name = name0.replaceAll("[`\"]", "").toLowerCase
        if (state(spark).prepared.remove(name) == null)
          throw new IllegalStateException(
            s"DEALLOCATE: no prepared statement named '$name'")
        return spark.emptyDataFrame
      case s if s.toUpperCase.contains("ALTER") &&
          runAlterColumn(spark, s).isDefined =>
        return spark.emptyDataFrame
      case createSeqRe(orRepl, ifNot, name, opts) =>
        // DuckDB sequences (JVM-session state, Sequences.scala scaladoc)
        val start = seqStartRe.findFirstMatchIn(opts).map(_.group(1).toLong)
          .getOrElse(1L)
        val inc = seqIncRe.findFirstMatchIn(opts).map(_.group(1).toLong)
          .getOrElse(1L)
        Sequences.create(name.replaceAll("[`\"]", ""), start, inc,
          orReplace = orRepl != null, ifNotExists = ifNot != null)
        return spark.emptyDataFrame
      case dropSeqRe(ifEx, name) =>
        Sequences.drop(name.replaceAll("[`\"]", ""), ifExists = ifEx != null)
        return spark.emptyDataFrame
      case createViewRe(orRepl, ifNot, name0, body) =>
        // DuckDB CREATE VIEW over our temp-view catalog: a persistent Spark
        // view can't reference temp relations, so views are session-scoped
        // temp views (exactly the lifetime of the reference's per-file
        // catalog entries from this server's perspective). The body goes
        // through the full dialect layer.
        val name = name0.replaceAll("[`\"]", "")
        val exists = spark.catalog.tableExists(name)
        if (exists && orRepl == null) {
          if (ifNot != null) return spark.emptyDataFrame
          throw new IllegalStateException(
            s"""Catalog Error: View with name "$name" already exists!""")
        }
        sql(spark, body).createOrReplaceTempView(name)
        state(spark).views.put(name.toLowerCase, body) // definition survives DDL
        bumpCatalogVersion()
        return spark.emptyDataFrame
      case dropViewRe(name0) =>
        val name = name0.replaceAll("[`\"]", "")
        state(spark).views.remove(name.toLowerCase)
        spark.sql(duckSql) // Spark's DROP VIEW handles IF EXISTS + errors
        bumpCatalogVersion()
        return spark.emptyDataFrame
      case summarizeRe(target) =>
        // DuckDB SUMMARIZE <table|query> → the exact 12-column DuckDB shape
        return duckdbSummarize(spark,
          if (bareNameRe.pattern.matcher(target.trim).matches())
            s"SELECT * FROM ${target.trim.replaceAll("[`\"]", "")}"
          else target)
      case dropTableIfExistsRe(t) => {
        // DuckDB DROP removes storage; Spark's only drops what the (per-
        // session, in-memory) metastore knows. A table directory orphaned
        // by a PREVIOUS session would make the next CTAS fail with
        // "location already exists" — so clear the orphan too.
        val name = t.replaceAll("[`\"]", "")
        spark.sql(s"DROP TABLE IF EXISTS $name")
        bumpCatalogVersion()
        if (!spark.catalog.tableExists(name)) {
          val wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
          val dir = new java.io.File(
            new java.net.URI(wh).getPath + "/" + name.toLowerCase)
          if (dir.isDirectory)
            new scala.reflect.io.Directory(dir).deleteRecursively()
        }
        return spark.emptyDataFrame
      }
      case s0 if ("(?is)^\\s*USE\\s+[\"`']?(memory|main)[\"`']?" +
          "(?:\\s*\\.\\s*[\"`']?main[\"`']?)?\\s*;?\\s*$").r
          .pattern.matcher(s0).matches() =>
        // DuckDB's default catalog spellings (memory, main, memory.main,
        // quoted forms); the default Spark catalog IS the session's
        // database — a no-op (ATTACH'd names route through TenantManager
        // before reaching here)
        return spark.emptyDataFrame
      case s0 if "(?is)^\\s*COMMENT\\s+ON\\s+.*".r.pattern.matcher(s0).matches() =>
        // metadata-only: stored engine-side keyed by the UNQUALIFIED name
        // (DuckDB comments on views too, where Spark's COMMENT ON TABLE
        // refuses); IS NULL removes; doubled '' unescaped
        val m = "(?is)^\\s*COMMENT\\s+ON\\s+\\w+\\s+([\\w.`\"]+)\\s+IS\\s+(.+?)\\s*;?\\s*$".r
        m.findFirstMatchIn(s0).foreach { mm =>
          val key = mm.group(1).replaceAll("[`\"]", "").toLowerCase
            .split('.').last
          val raw = mm.group(2).trim
          if (raw.equalsIgnoreCase("NULL")) state(spark).comments.remove(key)
          else state(spark).comments.put(key,
            raw.stripPrefix("'").stripSuffix("'").replace("''", "'"))
        }
        return spark.emptyDataFrame
      case truncateBareRe(t) =>
        // DuckDB accepts TRUNCATE without the TABLE keyword
        return spark.sql(s"TRUNCATE TABLE ${t.replaceAll("[`\"]", "")}")
      case UpdateFrom(table, sets, fromSrc, where, ret) =>
        return runUpdateFrom(spark, table, sets, fromSrc, where, ret)
      case deleteUsingRe(table, using, where, ret) =>
        return runDeleteUsing(spark, table, using, where, Option(ret))
      case insertReturningRe(table, colList, body, proj) =>
        return runInsertReturning(spark, table, Option(colList), body, proj)
      case deleteRe(table, where, returning) =>
        return runDelete(spark, table, where, Option(returning))
      case updateRe(table, sets, where, returning) =>
        return runUpdate(spark, table, sets, Option(where), Option(returning))
      case s if asofWordRe.pattern.matcher(s).matches() =>
        tryAsofMerge(spark, s).foreach(df => return df)
      case _ =>
    }
    // catalog lookup for COLUMNS('regex') expansion — only invoked when the
    // statement actually contains a COLUMNS call
    val isMapCol: String => Boolean =
      if (duckSql.contains("[")) colTypeInfo(spark).hasClass(_, "map")
      else _ => false
    // ARRAY/MAP columns for collection-shape dispatch (empty/len/
    // length size-vs-length, concat list-vs-string, …). Always on: the
    // translator only invokes the lambda when a rewrite actually needs a
    // shape decision, and the snapshot is cached per catalog version, so the
    // steady-state cost is one Map lookup (a statement substring gate
    // here silently disabled the named-column dispatch for len()/concat
    // — advice r8).
    val isCollectionCol: String => Boolean = { name =>
      val info = colTypeInfo(spark)
      info.hasClass(name, "array") || info.hasClass(name, "map")
    }
    // typed-column resolvers (r11/r12): DATE drives the schema-aware
    // `date_col ± INTERVAL` TIMESTAMP cast (loose), the `date_col −
    // date_col` integer-days and date_trunc/time_bucket DATE-shape
    // rewrites (strict — advice r11: a loose lookup silently datediff'd a
    // TIMESTAMP column sharing a DATE column's name); STRING routes
    // column subscripts through character semantics; DECIMAL suppresses
    // the `/`→try_divide rewrite. Same lazy per-catalog-version cache.
    val types = Translator.ColTypes(
      isMapCol = isMapCol,
      isCollectionCol = isCollectionCol,
      isDateCol =
        (chain, strict) => chainHasClass(colTypeInfo(spark), chain, "date", strict),
      isStringCol =
        chain => chainHasClass(colTypeInfo(spark), chain, "string", strict = true),
      isDecimalCol =
        chain => chainHasClass(colTypeInfo(spark), chain, "decimal", strict = false))
    val t = Translator.translate(duckSql,
      name => scala.util.Try(spark.table(name).schema.fieldNames.toSeq).toOption,
      types)
    // a view new to the session, or one whose schema changed, may carry
    // MAP columns the catalog snapshots do not know yet; the same file
    // re-registered with the same schema (each refresh of a view over
    // read_csv_auto does it) changes nothing they hold
    val changed = t.views.map { v =>
      val df = v.format match {
        case "csv" => spark.read.option("header", "true").option("inferSchema", "true").csv(v.path)
        case f => spark.read.format(f).load(v.path)
      }
      val before = scala.util.Try(spark.table(v.name).schema).toOption
      df.createOrReplaceTempView(v.name)
      !before.contains(df.schema)
    }
    if (changed.contains(true)) bumpCatalogVersion()
    if (t.sql.contains("graft_infoschema_")) registerInfoSchema(spark)
    val out = spark.sql(t.sql)
    // DDL invalidates the cached information_schema snapshot (spark.sql
    // has already executed the command eagerly at this point)
    if (ddlRe.pattern.matcher(t.sql).matches()) bumpCatalogVersion()
    out
  }

  // ---- per-session state ------------------------------------------------

  /** The engine state of one SparkSession. A tenant is one session
    * (`TenantManager.sessionFor` clones one per tenant and database, as
    * the reference opens one DuckDB connection per tenant), so what one
    * tenant declares is invisible to the others:
    *   - `prepared`: PREPARE name → raw body;
    *   - `views`: CREATE VIEW name → raw body, and `viewsVersion`, the
    *     data version at which the session last resolved them;
    *   - `comments`: COMMENT ON name → text (`duckdb_tables()`);
    *   - `info` and `colTypes`: the information_schema and column-class
    *     snapshots, rebuilt lazily when the catalog version has moved;
    *   - `infoSchemaVersion`: the catalog version of the session's
    *     `graft_infoschema_*` views.
    * Process-global, because what they guard is shared by every session:
    * the catalog and data versions (one Spark catalog, one warehouse), the
    * table write locks, and `Sequences` (`nextval` runs in generated code,
    * which has no session to look up). Macros keep the same per-session
    * map in `Macros`. */
  private final class SessionState {
    val prepared = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val views = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val viewsVersion = new java.util.concurrent.atomic.AtomicLong(0)
    val comments = new java.util.concurrent.ConcurrentHashMap[String, String]()
    @volatile var info: InfoSnapshot = null
    @volatile var colTypes: ColTypeInfo = null
    @volatile var infoSchemaVersion = -1L
  }

  private val sessions: java.util.Map[SparkSession, SessionState] =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, SessionState]())

  private def state(spark: SparkSession): SessionState =
    sessions.computeIfAbsent(spark, _ => new SessionState)

  private val catalogVersion = new java.util.concurrent.atomic.AtomicLong(0)
  private val dataVersion = new java.util.concurrent.atomic.AtomicLong(0)

  /** Call after any DDL that changes the catalog (CREATE/DROP/ALTER): the
    * snapshots rebuild and the user views re-resolve. */
  def bumpCatalogVersion(): Unit = {
    catalogVersion.incrementAndGet()
    dataVersion.incrementAndGet()
  }

  /** Call after schema-PRESERVING table mutation (INSERT/UPDATE/DELETE —
    * r17, VERDICT r16 #5): user views must re-resolve (the COW swap
    * replaces the table's files, so a resolved temp-view plan would read
    * the old ones), but the catalog-version snapshots (colTypeInfo,
    * information_schema) depend only on SCHEMAS, which pure DML cannot
    * change — re-collecting them per statement cost a listTables Spark
    * job plus a full catalog schema walk after every statement of a DML
    * script (measured: q216 paid 2 extra listTables jobs + 3 snapshot
    * rebuilds per run). */
  def bumpDataVersion(): Unit = dataVersion.incrementAndGet()

  // ---- information_schema emulation ------------------------------------
  //
  // The reference queries information_schema for its catalog actions
  // (`/root/reference/main.py:548-556,888-901`). Spark has no such views, so
  // we snapshot spark.catalog — but a snapshot per catalog CALL would
  // re-collect the whole table/column listing each time (catalog clients
  // poll these constantly). The snapshot is cached per session and
  // invalidated by the catalog version.

  final case class InfoSnapshot(
      version: Long,
      schemata: Seq[(String, String, String, String)], // catalog, schema, owner, description
      tables: Seq[(String, String, String, String)], // catalog, schema, name, type
      columns: Seq[(String, String, String, Int, String, Boolean)])

  /** Visible-catalog column-type snapshot (r12, upgrading r11's DATE-only
    * set after the r11 advisor finding): per-TABLE class map plus the
    * cross-table class sets, cached per (session, catalog version): catalog
    * listing + schema walks are too slow to pay per statement. Drives
    * every schema-aware translator resolver:
    *
    *   - MAP (the subscript pass, r7) and ARRAY-or-MAP (empty()/
    *     notEmpty()/len() size-vs-length dispatch, r8): loose.
    *   - DATE (`date_col ± INTERVAL`, `date_col − date_col`, date_trunc/
    *     time_bucket result shape): table-exact when the ident chain is
    *     qualified by a name the catalog knows; otherwise LOOSE for the
    *     ± INTERVAL cast (collision cost is a no-op CAST(ts AS TIMESTAMP))
    *     but STRICT — DATE-typed in EVERY defining table — for the
    *     `−` → datediff and result-shape rewrites, where a TIMESTAMP
    *     column merely sharing a DATE column's name would get a silently
    *     wrong integer-days result (advice r11). Alias qualifiers (`o.c`
    *     where `o` aliases a table) cannot be resolved at token level and
    *     take the same strict/loose fallback.
    *   - STRING (string-column subscripts/slices): always strict.
    *   - DECIMAL (try_divide/try_mod suppression): always loose — the
    *     conservative direction, a false positive keeps the loud ANSI
    *     error. */
  private final case class ColTypeInfo(version: Long,
      byTable: Map[String, Map[String, String]],
      classesOf: Map[String, Set[String]]) {
    def hasClass(col: String, cls: String): Boolean =
      classesOf.get(col).exists(_.contains(cls))
  }

  private def colTypeInfo(spark: SparkSession): ColTypeInfo = {
    val v = catalogVersion.get()
    val st = state(spark)
    val cached = st.colTypes
    if (cached != null && cached.version == v) cached
    else {
      import org.apache.spark.sql.types._
      def cls(dt: DataType): String = dt match {
        case DateType => "date"
        case StringType => "string"
        case _: DecimalType => "decimal"
        case _: MapType => "map"
        case _: ArrayType => "array"
        case _ => "other"
      }
      val byTable = scala.util.Try {
        spark.catalog.listTables().collect().toSeq.flatMap { t =>
          scala.util.Try(spark.table(t.name).schema.fields.toSeq).toOption
            .map { fs =>
              t.name.toLowerCase ->
                fs.map(f => f.name.toLowerCase -> cls(f.dataType)).toMap
            }
        }.toMap
      }.getOrElse(Map.empty[String, Map[String, String]])
      val classesOf = byTable.values.flatten
        .groupBy(_._1).map { case (c, kvs) => c -> kvs.map(_._2).toSet }
      val info = ColTypeInfo(v, byTable, classesOf)
      st.colTypes = info
      info
    }
  }

  /** Resolve a lower-cased dotted ident chain against the snapshot: exact
    * per-table when the qualifier names a known table, else the
    * cross-table class set (strict = `want` in every defining table). */
  private def chainHasClass(info: ColTypeInfo, chain: String,
      want: String, strict: Boolean): Boolean = {
    val parts = chain.split('.').filter(_.nonEmpty)
    if (parts.isEmpty) false
    else {
      val col = parts.last
      val qualifier =
        if (parts.length >= 2) Some(parts(parts.length - 2)) else None
      qualifier.flatMap(info.byTable.get) match {
        case Some(cols) => cols.get(col).contains(want)
        case None =>
          val cls = info.classesOf.getOrElse(col, Set.empty)
          if (strict) cls == Set(want) else cls.contains(want)
      }
    }
  }

  /** Concurrent appends to one parquet table race on the Hadoop
    * FileOutputCommitter's shared `_temporary` directory (found by the
    * round-1 HTTP soak test) — every write path (HTTP NDJSON insert,
    * Flight do_put/do_exchange) serializes through the same per-table
    * lock. Reads stay fully concurrent; a transactional format
    * (Iceberg/Delta) lifts this on a real cluster. */
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  def tableWriteLock(table: String): Object =
    tableLocks.computeIfAbsent(table, _ => new Object)

  private val ddlRe = "(?is)^\\s*(CREATE|DROP|ALTER|TRUNCATE)\\b.*".r

  /** Cached catalog snapshot; re-collected only when the catalog version moved. */
  def infoSnapshot(spark: SparkSession): InfoSnapshot = {
    val v = catalogVersion.get()
    val st = state(spark)
    val cached = st.info
    if (cached != null && cached.version == v) return cached
    val cat = spark.catalog.currentCatalog()
    val dbs = spark.catalog.listDatabases().collect()
    val schemata = dbs.toSeq.map(d =>
      (cat, d.name, "public", Option(d.description).getOrElse("")))
    val tbls = dbs.flatMap(d => spark.catalog.listTables(d.name).collect())
    val tables = tbls.toSeq.map(tb => (cat,
      Option(tb.namespace).map(_.mkString(".")).getOrElse(""), tb.name, tb.tableType))
    val columns = tbls.toSeq.flatMap { tb =>
      val fq = (Option(tb.namespace).getOrElse(Array.empty[String]) :+ tb.name).mkString(".")
      try spark.catalog.listColumns(fq).collect().toSeq.zipWithIndex.map { case (c, i) =>
        (Option(tb.namespace).map(_.mkString(".")).getOrElse(""), tb.name,
          c.name, i + 1, c.dataType, c.nullable)
      } catch { case _: Throwable => Seq.empty }
    }
    val snap = InfoSnapshot(v, schemata, tables, columns)
    st.info = snap
    snap
  }

  /** Register the snapshot as the `graft_infoschema_*` temp views the
    * dialect layer rewrites information_schema references to. */
  def registerInfoSchema(spark: SparkSession): Unit = {
    import spark.implicits._
    val snap = infoSnapshot(spark)
    val st = state(spark)
    if (st.infoSchemaVersion == snap.version) return
    snap.schemata.map { case (c, s, o, _) => (c, s, o) }
      .toDF("catalog_name", "schema_name", "schema_owner")
      .createOrReplaceTempView("graft_infoschema_schemata")
    snap.tables
      .toDF("table_catalog", "table_schema", "table_name", "table_type")
      .createOrReplaceTempView("graft_infoschema_tables")
    snap.columns
      .toDF("table_schema", "table_name", "column_name", "ordinal_position",
        "data_type", "is_nullable")
      .createOrReplaceTempView("graft_infoschema_columns")
    st.infoSchemaVersion = snap.version
  }

  /** Multi-statement ticket execution: run serially, return the last result
    * (reference behavior, `/root/reference/examples/flight_read.py:7`).
    * Consecutive ALTER TABLE column ops on the SAME table coalesce into
    * one validated rewrite (r8): q178's 5-statement chain pays one table
    * pass instead of five — at 100 TB, one corpus rewrite instead of five.
    * If symbolic validation fails, the run falls back to per-statement
    * execution, reproducing DuckDB's partial application on mid-chain
    * errors. */
  def sqlScript(spark: SparkSession, script: String): DataFrame = {
    val stmts = Sanitizer.splitStatements(script)
    require(stmts.nonEmpty, "empty SQL script")
    var last: DataFrame = null
    var i = 0
    while (i < stmts.length) {
      // the column ops from statement i on, while they name one table
      val alters = stmts.iterator.drop(i).map(st => parseAlterOp(Lexer.routeText(st)))
        .takeWhile(_.isDefined).map(_.get).toSeq
      val chain = alters.takeWhile(_._1.equalsIgnoreCase(alters.head._1))
      if (chain.length >= 2 &&
          runAlterChain(spark, chain.head._1, chain.map(_._2))) {
        last = spark.emptyDataFrame
        i += chain.length
      } else {
        last = sql(spark, stmts(i))
        i += 1
      }
    }
    last
  }

  /** The one session builder (server, tools, Verify, Bench, specs):
    * `local[cpus]` with as many shuffle partitions as cores (`cpus` is
    * `SPARK_GRAFT_CPUS`, else 32 — not the 200 default sized for real
    * clusters). AQE and its partition coalescing keep Spark's defaults
    * (on), so plans re-partition/de-skew at runtime the way they would at
    * scale. */
  def localSession(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // graft's functions, rules and strategy install only here: the r13
      // dec-fuzz rules (DecDownscaleCast, DoubleCastToDuckStr) must run at
      // RESOLUTION so coercion-inserted casts fold with duck semantics, and
      // newSession() tenants inherit extensions
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // r10 fuzz batch 7: DuckDB string literals carry NO backslash
      // escaping — Spark's default parser ate one level, silently
      // corrupting every regex containing \d/\w/\. (and the PII patterns
      // shipped since r2 matched a superset). Verbatim literals restore
      // parity; the translator's own emissions are single-level now.
      .config("spark.sql.parser.escapedStringLiterals", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
