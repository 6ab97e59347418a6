package graft.arrowio

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.complex.ListVector
import org.apache.arrow.vector.ipc.{ArrowStreamReader, ArrowStreamWriter}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ArrowSchema}
import org.apache.arrow.vector.types.{FloatingPointPrecision, TimeUnit => ArrowTimeUnit}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import scala.jdk.CollectionConverters._

/** Arrow IPC interchange (reference S12–S15, `/root/reference/main.py:781-799,
  * 927-1005`): result streaming re-chunked to ≤1024-row record batches and
  * Arrow-stream ingest, plus the Spark⇄Arrow type maps.
  *
  * Uses arrow-vector directly (the Flight/gRPC transport isn't on the
  * classpath in this environment; these byte-level codecs are the protocol
  * surface a transport wraps).
  */
object ArrowIO {

  val batchSize = 1024 // reference: max_chunksize=1024, main.py:782

  /** Spark → Arrow type (reference S13 inverse, widened). */
  def toArrowField(f: StructField): Field = {
    def prim(t: ArrowType): Field =
      new Field(f.name, new FieldType(f.nullable, t, null), null)
    f.dataType match {
      case StringType => prim(new ArrowType.Utf8())
      case LongType => prim(new ArrowType.Int(64, true))
      case IntegerType => prim(new ArrowType.Int(32, true))
      case ShortType => prim(new ArrowType.Int(16, true))
      case ByteType => prim(new ArrowType.Int(8, true))
      case DoubleType => prim(new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE))
      case FloatType => prim(new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE))
      case BooleanType => prim(new ArrowType.Bool())
      case BinaryType => prim(new ArrowType.Binary())
      case DateType => prim(new ArrowType.Date(org.apache.arrow.vector.types.DateUnit.DAY))
      case d: DecimalType => prim(new ArrowType.Decimal(d.precision, d.scale, 128))
      case _: TimestampType => prim(new ArrowType.Timestamp(ArrowTimeUnit.MICROSECOND, "UTC"))
      case TimestampNTZType => prim(new ArrowType.Timestamp(ArrowTimeUnit.MICROSECOND, null))
      case ArrayType(et, containsNull) =>
        val child = toArrowField(StructField("item", et, containsNull))
        new Field(f.name, new FieldType(f.nullable, new ArrowType.List(), null),
          List(child).asJava)
      case other =>
        // fallback: stringify (reference defaults unknown types to VARCHAR,
        // main.py:1004-1005 / pa.string() main.py:928)
        prim(new ArrowType.Utf8())
    }
  }

  /** Arrow → Spark type (reference S12, `_arrow_to_duckdb_type`). */
  def toSparkType(t: ArrowType): DataType = t match {
    case _: ArrowType.Utf8 => StringType
    case i: ArrowType.Int => i.getBitWidth match {
      case 64 => LongType; case 32 => IntegerType; case 16 => ShortType; case _ => ByteType
    }
    case fp: ArrowType.FloatingPoint =>
      if (fp.getPrecision == FloatingPointPrecision.SINGLE) FloatType else DoubleType
    case _: ArrowType.Bool => BooleanType
    case _: ArrowType.Binary => BinaryType
    case _: ArrowType.Date => DateType
    case d: ArrowType.Decimal => DecimalType(d.getPrecision, d.getScale)
    case _: ArrowType.Timestamp => TimestampType
    case _ => StringType // reference default, main.py:1004-1005
  }

  def toSparkSchema(schema: ArrowSchema): StructType =
    StructType(schema.getFields.asScala.map { f =>
      f.getType match {
        case _: ArrowType.List =>
          val et = toSparkType(f.getChildren.get(0).getType)
          StructField(f.getName, ArrayType(et), f.isNullable)
        case t => StructField(f.getName, toSparkType(t), f.isNullable)
      }
    }.toSeq)

  /** StructType → schema-only Arrow IPC stream (zero record batches) —
    * the schema payload a FlightInfo carries (reference serves these from
    * a full query execution, `main.py:822-828`; here the schema comes from
    * the analyzed plan, no execution). */
  def schemaIpc(schema: StructType): Array[Byte] = bytesOf(writeIpc(schema, Iterator.empty, _))

  /** DataFrame → Arrow IPC stream written to `out`, ≤1024-row batches,
    * read from the serve path's one drain, [[graft.plans.SingleStream.drain]]:
    * rows arrive one partition at a time, and the ArrowStreamWriter pushes
    * each record batch to the sink as it seals, so with a chunked HTTP
    * response the driver holds one partition and one batch. A root
    * `ORDER BY` whose size, as Spark estimates or measures it, fits the
    * advisory partition size is met on one partition gathered inside the
    * result job, without the range partitioner's sampling job or a shuffle
    * stage of its own (a `GROUP BY` under it gathers its partial aggregates
    * there too); that partition is the whole reply, so larger sorted
    * results keep the range partitioning. Returns the row count. */
  def toArrowStreamTo(df: DataFrame, out: java.io.OutputStream): Long =
    writeIpc(df.schema, graft.plans.SingleStream.drain(df), out)

  /** DataFrame → Arrow IPC stream bytes (one array; use [[toArrowStreamTo]]
    * on response paths). */
  def toArrowStream(df: DataFrame): Array[Byte] = bytesOf(toArrowStreamTo(df, _))

  private def bytesOf(write: java.io.OutputStream => Unit): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    write(out)
    out.toByteArray
  }

  /** The one IPC writer: the schema header, then `rows` in ≤[[batchSize]]-row
    * record batches — none for a schema-only stream. Returns the row count. */
  private def writeIpc(schema: StructType, rows: Iterator[Row], out: java.io.OutputStream): Long = {
    val allocator = new RootAllocator()
    try {
      val fields = schema.fields.map(toArrowField).toList
      val root = VectorSchemaRoot.create(new ArrowSchema(fields.asJava), allocator)
      val writer = new ArrowStreamWriter(root, null, out)
      writer.start()
      var n = 0L
      val buf = new scala.collection.mutable.ArrayBuffer[Row](batchSize)
      def flush(): Unit = if (buf.nonEmpty) {
        root.allocateNew()
        var i = 0
        while (i < buf.length) {
          writeRow(root, i, buf(i), schema)
          i += 1
        }
        root.setRowCount(buf.length)
        writer.writeBatch()
        n += buf.length
        buf.clear()
      }
      while (rows.hasNext) {
        buf += rows.next()
        if (buf.length >= batchSize) flush()
      }
      flush()
      writer.end()
      root.close()
      out.flush()
      n
    } finally allocator.close()
  }

  private def writeRow(root: VectorSchemaRoot, idx: Int, row: Row, schema: StructType): Unit = {
    var c = 0
    while (c < schema.fields.length) {
      val vec = root.getVector(c)
      if (row.isNullAt(c)) vec.asInstanceOf[FieldVector] match {
        case v: BaseFixedWidthVector => v.setNull(idx)
        case v: BaseVariableWidthVector => v.setNull(idx)
        case v: ListVector => v.setNull(idx)
        case _ =>
      }
      else vec match {
        case v: BigIntVector => v.setSafe(idx, row.getLong(c))
        case v: IntVector => v.setSafe(idx, row.getInt(c))
        case v: SmallIntVector => v.setSafe(idx, row.getShort(c))
        case v: TinyIntVector => v.setSafe(idx, row.getByte(c))
        case v: Float8Vector => v.setSafe(idx, row.getDouble(c))
        case v: Float4Vector => v.setSafe(idx, row.getFloat(c))
        case v: BitVector => v.setSafe(idx, if (row.getBoolean(c)) 1 else 0)
        case v: VarCharVector => v.setSafe(idx, row.get(c).toString.getBytes("UTF-8"))
        case v: VarBinaryVector => v.setSafe(idx, row.getAs[Array[Byte]](c))
        case v: DecimalVector =>
          v.setSafe(idx, row.getDecimal(c).setScale(v.getScale))
        case v: DateDayVector =>
          v.setSafe(idx, row.getAs[java.sql.Date](c).toLocalDate.toEpochDay.toInt)
        case v: TimeStampMicroTZVector => v.setSafe(idx, toMicros(row.get(c)))
        case v: TimeStampMicroVector => v.setSafe(idx, toMicros(row.get(c)))
        case v: ListVector =>
          val w = v.getWriter
          w.setPosition(idx)
          w.startList()
          val elems = row.getSeq[Any](c)
          v.getDataVector match {
            case _: Float4Vector => elems.foreach(e => w.float4().writeFloat4(
              e.asInstanceOf[Float]))
            case _: Float8Vector => elems.foreach(e => w.float8().writeFloat8(
              e.asInstanceOf[Double]))
            case _: BigIntVector => elems.foreach(e => w.bigInt().writeBigInt(
              e.asInstanceOf[Long]))
            case _ => elems.foreach(e => w.varChar().writeVarChar(String.valueOf(e)))
          }
          w.endList()
        case v => v.asInstanceOf[VarCharVector]
          .setSafe(idx, String.valueOf(row.get(c)).getBytes("UTF-8"))
      }
      c += 1
    }
  }

  private def toMicros(v: Any): Long = v match {
    case t: java.sql.Timestamp => t.getTime * 1000 + (t.getNanos / 1000) % 1000
    case t: java.time.Instant => t.getEpochSecond * 1000000L + t.getNano / 1000
    case t: java.time.LocalDateTime => t.toInstant(java.time.ZoneOffset.UTC)
      .getEpochSecond * 1000000L + t.getNano / 1000
    case other => throw new IllegalArgumentException(s"not a timestamp: $other")
  }

  /** Decode the currently-loaded record batch of `root` into Rows — the
    * per-chunk unit of the do_exchange insert loop. */
  def currentBatchRows(root: VectorSchemaRoot, sparkSchema: StructType): Seq[Row] = {
    val n = root.getRowCount
    (0 until n).map { i =>
      Row.fromSeq(sparkSchema.fields.indices.map(c =>
        readValue(root.getVector(c), i, sparkSchema.fields(c).dataType)))
    }
  }

  /** Arrow IPC stream bytes → DataFrame (reference S15 `do_put` ingest path:
    * register + INSERT, `main.py:793-799`). NOT an ingest path: do_put /
    * do_exchange / HTTP insert all stream chunk-by-chunk
    * (FlightActions.streamingAppend, QueryExecutor.runInsertStream) — this
    * whole-body decode is for small protocol payloads and tests only. */
  def fromArrowStream(spark: SparkSession, bytes: Array[Byte]): DataFrame = {
    val allocator = new RootAllocator()
    val reader = new ArrowStreamReader(new ByteArrayInputStream(bytes), allocator)
    try {
      val root = reader.getVectorSchemaRoot
      val sparkSchema = toSparkSchema(root.getSchema)
      val rows = new scala.collection.mutable.ArrayBuffer[Row]()
      while (reader.loadNextBatch()) rows ++= currentBatchRows(root, sparkSchema)
      spark.createDataFrame(rows.asJava, sparkSchema)
    } finally { reader.close(); allocator.close() }
  }

  private def readValue(vec: FieldVector, idx: Int, dt: DataType): Any =
    if (vec.isNull(idx)) null
    else vec match {
      case v: BigIntVector => v.get(idx)
      case v: IntVector => v.get(idx)
      case v: SmallIntVector => v.get(idx)
      case v: TinyIntVector => v.get(idx)
      case v: Float8Vector => v.get(idx)
      case v: Float4Vector => v.get(idx)
      case v: BitVector => v.get(idx) == 1
      case v: VarCharVector => new String(v.get(idx), "UTF-8")
      case v: VarBinaryVector => v.get(idx)
      case v: DecimalVector => v.getObject(idx)
      case v: DateDayVector => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(v.get(idx)))
      case v: TimeStampMicroTZVector => microsToTs(v.get(idx))
      case v: TimeStampMicroVector => microsToTs(v.get(idx))
      case v: ListVector =>
        val et = dt.asInstanceOf[ArrayType].elementType
        val obj = v.getObject(idx)
        obj.asScala.map {
          case null => null
          case x: java.lang.Number => et match {
            case FloatType => x.floatValue()
            case DoubleType => x.doubleValue()
            case LongType => x.longValue()
            case IntegerType => x.intValue()
            case _ => x
          }
          case other => String.valueOf(other)
        }.toSeq
      case v => String.valueOf(v.getObject(idx))
    }

  private def microsToTs(micros: Long): java.sql.Timestamp = {
    val ts = new java.sql.Timestamp(micros / 1000)
    ts.setNanos(((micros % 1000000) * 1000).toInt)
    ts
  }
}
