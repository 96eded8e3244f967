package graft.interop

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.complex.ListVector
import org.apache.arrow.vector.complex.impl.UnionListWriter
import org.apache.arrow.vector.ipc.{ArrowStreamReader, ArrowStreamWriter}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ASchema}
import org.apache.arrow.vector.types.{DateUnit, FloatingPointPrecision, TimeUnit}
import org.apache.arrow.vector.util.Text
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._
import java.io.ByteArrayOutputStream
import java.nio.channels.Channels
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import scala.jdk.CollectionConverters._

/** Arrow IPC interchange (the reference's universal data plane:
  * to_pyarrow / to_pyarrow_batches / RecordBatchReader,
  * expr/api.py:590-678). Spark's own arrow bridge is Python-only
  * (`mapInArrow`), so this is a direct Row ↔ Arrow codec over the
  * PUBLIC arrow-java API that ships with Spark — schema mapping, batch
  * encode/decode, and the streaming IPC format — giving any Arrow
  * consumer (pyarrow, DataFusion, Arrow Flight clients, DuckDB)
  * zero-parse access to results.
  *
  * Encoding is per-partition and batched (`batchRows` rows per record
  * batch): memory is bounded by one batch, not one partition, and no
  * driver collect is involved when writing IPC files distributed
  * ([[ArrowIpc.write]]). Values cross from Tungsten rows into Arrow's
  * off-heap buffers exactly once.
  */
object ArrowCodec {

  /** Spark → Arrow schema (subset: the types the engine's tables use;
    * loud failure otherwise). */
  def arrowSchema(schema: StructType): ASchema =
    new ASchema(schema.fields.map(arrowField).toSeq.asJava)

  private def arrowField(f: StructField): Field = f.dataType match {
    case ArrayType(elem, containsNull) =>
      // carry the FIELD's nullability, not unconditionally nullable —
      // otherwise non-nullable array schemas fail to round-trip
      new Field(f.name, new FieldType(f.nullable, new ArrowType.List(), null),
        Seq(arrowField(StructField("item", elem, containsNull))).asJava)
    case dt =>
      new Field(f.name,
        new FieldType(f.nullable, arrowType(dt), null),
        java.util.Collections.emptyList())
  }

  private def arrowType(dt: DataType): ArrowType = dt match {
    case BooleanType => ArrowType.Bool.INSTANCE
    case ByteType => new ArrowType.Int(8, true)
    case ShortType => new ArrowType.Int(16, true)
    case IntegerType => new ArrowType.Int(32, true)
    case LongType => new ArrowType.Int(64, true)
    case FloatType =>
      new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE)
    case DoubleType =>
      new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
    case StringType => ArrowType.Utf8.INSTANCE
    case BinaryType => ArrowType.Binary.INSTANCE
    case DateType => new ArrowType.Date(DateUnit.DAY)
    case TimestampType => new ArrowType.Timestamp(TimeUnit.MICROSECOND, "UTC")
    case TimestampNTZType => new ArrowType.Timestamp(TimeUnit.MICROSECOND, null)
    case d: DecimalType => new ArrowType.Decimal(d.precision, d.scale, 128)
    case other => throw new IllegalArgumentException(
      s"arrow interchange: unsupported Spark type $other")
  }

  /** Arrow → Spark schema (inverse of [[arrowSchema]]). */
  def sparkSchema(schema: ASchema): StructType =
    StructType(schema.getFields.asScala.map(sparkField).toArray)

  private def sparkField(f: Field): StructField =
    StructField(f.getName, sparkType(f), f.isNullable)

  private def sparkType(f: Field): DataType = f.getType match {
    case _: ArrowType.Bool => BooleanType
    case t: ArrowType.Int => t.getBitWidth match {
      case 8 => ByteType
      case 16 => ShortType
      case 32 => IntegerType
      case 64 => LongType
    }
    case t: ArrowType.FloatingPoint => t.getPrecision match {
      case FloatingPointPrecision.SINGLE => FloatType
      case FloatingPointPrecision.DOUBLE => DoubleType
      case p => throw new IllegalArgumentException(s"unsupported fp $p")
    }
    case _: ArrowType.Utf8 => StringType
    case _: ArrowType.Binary => BinaryType
    case _: ArrowType.Date => DateType
    case t: ArrowType.Timestamp =>
      if (t.getTimezone == null) TimestampNTZType else TimestampType
    case t: ArrowType.Decimal => DecimalType(t.getPrecision, t.getScale)
    case _: ArrowType.List =>
      ArrayType(sparkType(f.getChildren.get(0)),
        f.getChildren.get(0).isNullable)
    case other => throw new IllegalArgumentException(
      s"arrow interchange: unsupported Arrow type $other")
  }

  /** Encode rows as one Arrow IPC stream (schema header + N record
    * batches of ≤ `batchRows`) into `out` — memory bounded by one
    * batch, so a whole partition can stream to a file. */
  def encodeTo(schema: StructType, rows: Iterator[Row],
      out: java.io.OutputStream, batchRows: Int = 4096): Unit = {
    val enc = new ArrowStreamEncoder(schema, out, batchRows)
    try {
      while (rows.hasNext) enc.add(rows.next())
      enc.finish()
    } finally enc.close()
  }

  /** [[encodeTo]] into a byte array. */
  def encode(schema: StructType, rows: Iterator[Row],
      batchRows: Int = 4096): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    encodeTo(schema, rows, bytes, batchRows)
    bytes.toByteArray
  }

  private[interop] def fillRoot(root: VectorSchemaRoot, schema: StructType,
      batch: Array[Row], n: Int): Unit = {
    root.allocateNew()
    var c = 0
    while (c < schema.length) {
      val vec = root.getVector(c)
      val dt = schema(c).dataType
      var i = 0
      while (i < n) {
        val v = batch(i).get(c)
        if (v == null) setNull(vec, i) else setValue(vec, i, dt, v)
        i += 1
      }
      c += 1
    }
    root.setRowCount(n)
  }

  private def setNull(vec: ValueVector, i: Int): Unit = vec match {
    case l: ListVector => l.setNull(i)
    case f: FieldVector => f.asInstanceOf[BaseValueVector] match {
      case b: BaseFixedWidthVector => b.setNull(i)
      case b: BaseVariableWidthVector => b.setNull(i)
      case other => throw new IllegalArgumentException(
        s"cannot null ${other.getClass}")
    }
  }

  private def setValue(vec: ValueVector, i: Int, dt: DataType,
      v: Any): Unit = (vec, dt) match {
    case (x: BitVector, BooleanType) =>
      x.setSafe(i, if (v.asInstanceOf[Boolean]) 1 else 0)
    case (x: TinyIntVector, ByteType) => x.setSafe(i, v.asInstanceOf[Byte])
    case (x: SmallIntVector, ShortType) => x.setSafe(i, v.asInstanceOf[Short])
    case (x: IntVector, IntegerType) => x.setSafe(i, v.asInstanceOf[Int])
    case (x: BigIntVector, LongType) => x.setSafe(i, v.asInstanceOf[Long])
    case (x: Float4Vector, FloatType) => x.setSafe(i, v.asInstanceOf[Float])
    case (x: Float8Vector, DoubleType) => x.setSafe(i, v.asInstanceOf[Double])
    case (x: VarCharVector, StringType) =>
      x.setSafe(i, v.asInstanceOf[String].getBytes("UTF-8"))
    case (x: VarBinaryVector, BinaryType) =>
      x.setSafe(i, v.asInstanceOf[Array[Byte]])
    case (x: DateDayVector, DateType) => v match {
      case d: java.sql.Date => x.setSafe(i, d.toLocalDate.toEpochDay.toInt)
      case d: LocalDate => x.setSafe(i, d.toEpochDay.toInt)
    }
    case (x: TimeStampMicroTZVector, TimestampType) =>
      // Spark's own Timestamp → micros conversion (Arrow and Spark count
      // proleptic Gregorian micros; a java.sql.Timestamp before
      // 1582-10-15 reads in the hybrid Julian calendar)
      x.setSafe(i, DateTimeUtils.fromJavaTimestamp(
        v.asInstanceOf[java.sql.Timestamp]))
    case (x: TimeStampMicroVector, TimestampNTZType) =>
      val t = v.asInstanceOf[LocalDateTime]
      x.setSafe(i, t.toEpochSecond(ZoneOffset.UTC) * 1000000L +
        t.getNano / 1000L)
    case (x: DecimalVector, _: DecimalType) => v match {
      // Spark rows carry java BigDecimal, but our own decode emits
      // scala BigDecimal — accept both or decode→re-encode crashes
      case d: java.math.BigDecimal => x.setSafe(i, d)
      case d: BigDecimal => x.setSafe(i, d.bigDecimal)
    }
    case (x: ListVector, ArrayType(elem, _)) =>
      val w = new UnionListWriter(x)
      w.setPosition(i)
      w.startList()
      v.asInstanceOf[scala.collection.Seq[Any]].foreach { e =>
        if (e == null) elem match {
          case FloatType => w.float4().writeNull()
          case DoubleType => w.float8().writeNull()
          case IntegerType => w.integer().writeNull()
          case LongType => w.bigInt().writeNull()
          case StringType => w.varChar().writeNull()
          case other => throw new IllegalArgumentException(
            s"null element in array<$other> unsupported")
        } else elem match {
          case FloatType => w.float4().writeFloat4(e.asInstanceOf[Float])
          case DoubleType => w.float8().writeFloat8(e.asInstanceOf[Double])
          case IntegerType => w.integer().writeInt(e.asInstanceOf[Int])
          case LongType => w.bigInt().writeBigInt(e.asInstanceOf[Long])
          case StringType =>
            val b = e.asInstanceOf[String].getBytes("UTF-8")
            val buf = x.getAllocator.buffer(b.length)
            try {
              buf.setBytes(0, b)
              w.varChar().writeVarChar(0, b.length, buf)
            } finally buf.close()
          case other => throw new IllegalArgumentException(
            s"arrow interchange: unsupported array element $other")
        }
      }
      w.endList()
    case (x, t) => throw new IllegalArgumentException(
      s"arrow interchange: cannot write $t into ${x.getClass.getSimpleName}")
  }

  /** Open an IPC stream for decoding. The handle's `close()` is
    * idempotent and MUST be guaranteed by the caller (task-completion
    * listener, try/finally) — the row iterator closes on full drain,
    * but a LIMIT/take abandons it mid-stream and the Arrow buffers are
    * off-heap, so drain-time cleanup alone leaks direct memory. */
  def open(in: java.io.InputStream): ArrowDecodeHandle =
    open(in, None)

  /** [[open]] with column pruning: `projection` selects (by name, in
    * projection order) the columns materialized into rows — the Arrow
    * batches still load whole (IPC framing is not columnar-seekable),
    * but per-value conversion, the dominant decode cost, is paid only
    * for projected columns. An EMPTY projection is valid (count-style
    * scans): rows carry no fields but the row count is preserved. */
  def open(in: java.io.InputStream,
      projection: Option[StructType]): ArrowDecodeHandle = {
    // release on ANY failure before the handle exists (corrupt file,
    // unsupported type, unknown projected column) — the caller's
    // close() is unreachable until we return, and the allocator is
    // off-heap
    val allocator = new RootAllocator()
    val reader =
      try new ArrowStreamReader(in, allocator)
      catch { case t: Throwable =>
        try in.close() finally allocator.close(); throw t }
    try {
      val fileSchema = sparkSchema(reader.getVectorSchemaRoot.getSchema)
      val out = projection.getOrElse(fileSchema)
      val indices = out.fields.map(f => fileSchema.fieldIndex(f.name))
      new ArrowDecodeHandle(reader, allocator, out, indices)
    } catch { case t: Throwable =>
      try reader.close() finally allocator.close(); throw t }
  }

  /** Decode an in-memory Arrow IPC stream back to (schema, rows).
    * Materializes each batch one at a time; callers stream the
    * iterator. Heap-backed input, so abandoning the iterator cannot
    * leak off-heap memory past the handle's drain-time close — for
    * file/socket inputs use [[open]] and guarantee `close()`. */
  def decode(bytes: Array[Byte]): (StructType, Iterator[Row]) = {
    val h = open(new java.io.ByteArrayInputStream(bytes))
    (h.schema, h.rows)
  }

  private[interop] def readBatch(reader: ArrowStreamReader,
      schema: StructType, indices: Array[Int]): Option[Array[Row]] =
    if (reader.loadNextBatch())
      Some(readRoot(reader.getVectorSchemaRoot, schema, indices))
    else None

  /** `indices(c)` = file-column index backing output column `c`. */
  private def readRoot(root: VectorSchemaRoot, schema: StructType,
      indices: Array[Int]): Array[Row] = {
    val n = root.getRowCount
    val out = new Array[Row](n)
    val cols = schema.indices.map(c =>
      (root.getVector(indices(c)), schema(c).dataType)).toArray
    var i = 0
    while (i < n) {
      out(i) = Row.fromSeq(cols.toSeq.map { case (vec, dt) =>
        if (vec.isNull(i)) null else getValue(vec, i, dt)
      })
      i += 1
    }
    out
  }

  private def getValue(vec: ValueVector, i: Int, dt: DataType): Any =
    (vec, dt) match {
      case (x: BitVector, BooleanType) => x.get(i) == 1
      case (x: TinyIntVector, ByteType) => x.get(i)
      case (x: SmallIntVector, ShortType) => x.get(i)
      case (x: IntVector, IntegerType) => x.get(i)
      case (x: BigIntVector, LongType) => x.get(i)
      case (x: Float4Vector, FloatType) => x.get(i)
      case (x: Float8Vector, DoubleType) => x.get(i)
      case (x: VarCharVector, StringType) => new String(x.get(i), "UTF-8")
      case (x: VarBinaryVector, BinaryType) => x.get(i)
      case (x: DateDayVector, DateType) =>
        java.sql.Date.valueOf(LocalDate.ofEpochDay(x.get(i)))
      case (x: TimeStampMicroTZVector, TimestampType) =>
        DateTimeUtils.toJavaTimestamp(x.get(i))
      case (x: TimeStampMicroVector, TimestampNTZType) =>
        val micros = x.get(i)
        LocalDateTime.ofEpochSecond(Math.floorDiv(micros, 1000000L),
          (Math.floorMod(micros, 1000000L) * 1000L).toInt, ZoneOffset.UTC)
      case (x: DecimalVector, d: DecimalType) =>
        val bd = x.getObject(i)
        BigDecimal(bd).setScale(d.scale)
      case (x: ListVector, ArrayType(elem, _)) =>
        val obj = x.getObject(i).asScala.toSeq
        obj.map {
          case null => null
          case t: Text => t.toString
          case o => o
        }
      case (x, t) => throw new IllegalArgumentException(
        s"arrow interchange: cannot read $t from ${x.getClass.getSimpleName}")
    }
}

/** Push-style IPC stream encoder (the [[ArrowCodec.encodeTo]] engine,
  * exposed for row-at-a-time writers like the DSv2 DataWriter): `add`
  * rows, `finish` to flush the tail batch and close the stream framing
  * (always ≥1 batch, so an empty partition still yields a well-formed
  * stream), `close` to release the off-heap root/allocator — safe to
  * call after `finish` or on the error path without it. */
final class ArrowStreamEncoder(schema: StructType,
    out: java.io.OutputStream, batchRows: Int = 4096) {
  private val allocator = new RootAllocator()
  private val root =
    try VectorSchemaRoot.create(ArrowCodec.arrowSchema(schema), allocator)
    catch { case t: Throwable => allocator.close(); throw t }
  // start() writes the IPC schema header — an IOException here (disk
  // full, quota) must not leak the off-heap root/allocator: the caller
  // never gets an instance to close()
  private val writer =
    try {
      val w = new ArrowStreamWriter(root, null, Channels.newChannel(out))
      w.start()
      w
    } catch { case t: Throwable =>
      try root.close() finally allocator.close(); throw t }
  private val batch = new Array[Row](batchRows)
  private var n = 0
  private var wroteAny = false
  private val closed = new java.util.concurrent.atomic.AtomicBoolean(false)

  def add(r: Row): Unit = {
    batch(n) = r; n += 1
    if (n == batchRows) flush()
  }

  private def flush(): Unit = {
    ArrowCodec.fillRoot(root, schema, batch, n)
    writer.writeBatch()
    wroteAny = true
    n = 0
  }

  def finish(): Unit = {
    if (n > 0 || !wroteAny) flush()
    writer.end()
  }

  def close(): Unit = if (closed.compareAndSet(false, true)) {
    try root.close() finally allocator.close()
  }
}

/** A live decode over an open IPC stream: `rows` streams batch by
  * batch; `close()` (idempotent, thread-safe) releases the reader, the
  * off-heap allocator, and the underlying input stream. The iterator
  * self-closes on full drain; callers that may stop early must close
  * explicitly. */
final class ArrowDecodeHandle private[interop] (
    reader: ArrowStreamReader,
    allocator: RootAllocator,
    val schema: StructType,
    indices: Array[Int]) {
  private val closed = new java.util.concurrent.atomic.AtomicBoolean(false)

  def close(): Unit = if (closed.compareAndSet(false, true)) {
    try reader.close() finally allocator.close()
  }

  val rows: Iterator[Row] = new Iterator[Row] {
    private var batch: Array[Row] = Array.empty
    private var pos = 0
    private var done = false
    private def advance(): Unit =
      while (!done && pos >= batch.length) {
        if (closed.get()) { done = true }
        else ArrowCodec.readBatch(reader, schema, indices) match {
          case Some(b) => batch = b; pos = 0
          case None => done = true; close()
        }
      }
    def hasNext: Boolean = { advance(); !done }
    def next(): Row = { advance(); val r = batch(pos); pos += 1; r }
  }
}
