package graft.interop

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite

/** Randomized Arrow IPC codec round-trip: encode(schema, rows) →
  * decode must reproduce schema and values exactly for random schemas
  * over every supported type, random null patterns, adversarial
  * strings, and empty batches — plus the projected-decode path used by
  * the DSv2 reader. The last case checks the columnar decode
  * ([[ArrowIpc.fromBytes]], Spark's own converters) against the row
  * codec on the same streams, through the shared test session. */
class ArrowFuzzSpec extends AnyFunSuite {

  private val nastyString: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr,
    Gen.const("with \"quotes\" and \\back\\slashes"),
    Gen.const("unicode: ü λ 漢字 🚀"),
    Gen.const(""),
    Gen.listOfN(3, Gen.choose(0.toChar, 31.toChar)).map(_.mkString))

  private val scalarTypes: Seq[DataType] = Seq(
    BooleanType, ByteType, ShortType, IntegerType, LongType,
    FloatType, DoubleType, StringType, BinaryType, DateType,
    TimestampType, TimestampNTZType, DecimalType(12, 2),
    DecimalType(38, 18))

  private val genType: Gen[DataType] = Gen.frequency(
    6 -> Gen.oneOf(scalarTypes),
    2 -> Gen.oneOf(FloatType, DoubleType, IntegerType, LongType,
      StringType).map(ArrayType(_, containsNull = false)))

  private val genSchema: Gen[StructType] =
    Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, genType).map(ts =>
      StructType(ts.zipWithIndex.map { case (t, i) =>
        StructField(s"c$i", t, nullable = true)
      })))

  private def genValue(dt: DataType): Gen[Any] = dt match {
    case BooleanType => Gen.oneOf(true, false)
    case ByteType => Gen.choose(Byte.MinValue, Byte.MaxValue)
    case ShortType => Gen.choose(Short.MinValue, Short.MaxValue)
    case IntegerType => Gen.choose(Int.MinValue, Int.MaxValue)
    case LongType => Gen.choose(Long.MinValue, Long.MaxValue)
    case FloatType => Gen.oneOf(Gen.choose(-1e6f, 1e6f),
      Gen.oneOf(Float.NaN, Float.PositiveInfinity, -0.0f))
    case DoubleType => Gen.oneOf(Gen.choose(-1e12, 1e12),
      Gen.oneOf(Double.NaN, Double.NegativeInfinity, -0.0))
    case StringType => nastyString
    case BinaryType =>
      Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)
    case DateType => Gen.choose(-30000, 30000)
      .map(d => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d)))
    case TimestampType => Gen.choose(-4e15.toLong, 4e15.toLong).map { us =>
      val t = new java.sql.Timestamp(Math.floorDiv(us, 1000L))
      t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }
    case TimestampNTZType => Gen.choose(-4e15.toLong, 4e15.toLong)
      .map(us => java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(us, 1000000L),
        (Math.floorMod(us, 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC))
    case d: DecimalType => Gen.choose(-999999999L, 999999999L)
      .map(u => BigDecimal(u, d.scale))
    case ArrayType(elem, _) =>
      Gen.choose(0, 5).flatMap(n => Gen.listOfN(n, genValue(elem)))
    case other => throw new IllegalArgumentException(s"$other")
  }

  private def genRow(schema: StructType): Gen[Row] =
    Gen.sequence[Seq[Any], Any](schema.fields.map(f =>
      if (f.nullable)
        Gen.frequency(4 -> genValue(f.dataType), 1 -> Gen.const(null))
      else genValue(f.dataType)))
      .map(Row.fromSeq)

  private def decimal(x: Any): BigDecimal = x match {
    case d: java.math.BigDecimal => BigDecimal(d)
    case d: BigDecimal => d
  }

  private def sameValue(dt: DataType, a: Any, b: Any): Boolean =
    (a, b) match {
      case (null, null) => true
      case (null, _) | (_, null) => false
      case _ => dt match {
        case BinaryType => a.asInstanceOf[Array[Byte]].toSeq ==
          b.asInstanceOf[Array[Byte]].toSeq
        case FloatType =>
          java.lang.Float.compare(a.asInstanceOf[Float],
            b.asInstanceOf[Float]) == 0
        case DoubleType =>
          java.lang.Double.compare(a.asInstanceOf[Double],
            b.asInstanceOf[Double]) == 0
        case _: DecimalType => decimal(a).compare(decimal(b)) == 0
        case ArrayType(e, _) =>
          val (x, y) = (a.asInstanceOf[scala.collection.Seq[Any]],
            b.asInstanceOf[scala.collection.Seq[Any]])
          x.length == y.length &&
            x.zip(y).forall { case (u, v) => sameValue(e, u, v) }
        case _ => a == b
      }
    }

  test("random schemas and rows round-trip exactly (200 cases, incl. " +
    "empty row sets and projected decode)") {
    val params = Gen.Parameters.default
    var seed = rng.Seed(7L)
    var checked = 0
    while (checked < 200) {
      val sampled = for {
        schema <- genSchema
        n <- Gen.frequency(5 -> Gen.choose(1, 40), 1 -> Gen.const(0))
        rows <- Gen.listOfN(n, genRow(schema))
      } yield (schema, rows)
      sampled.apply(params, seed) match {
        case Some((schema, rows)) =>
          val bytes = ArrowCodec.encode(schema, rows.iterator,
            batchRows = 7) // small batches: multi-batch streams covered
          val (backSchema, it) = ArrowCodec.decode(bytes)
          val back = it.toSeq
          assert(backSchema == schema, s"schema drift: $backSchema")
          assert(back.length == rows.length)
          rows.zip(back).foreach { case (exp, got) =>
            schema.fields.zipWithIndex.foreach { case (f, i) =>
              assert(sameValue(f.dataType, exp.get(i), got.get(i)),
                s"${f.name}:${f.dataType} ${exp.get(i)} != ${got.get(i)}")
            }
          }
          // projected decode (every other column, reversed order)
          val proj = StructType(schema.fields.zipWithIndex
            .filter(_._2 % 2 == 0).map(_._1).reverse)
          if (proj.nonEmpty) {
            val h = ArrowCodec.open(
              new java.io.ByteArrayInputStream(bytes), Some(proj))
            try {
              val prows = h.rows.toSeq
              assert(h.schema == proj)
              assert(prows.length == rows.length)
              rows.zip(prows).foreach { case (exp, got) =>
                proj.fields.zipWithIndex.foreach { case (f, i) =>
                  assert(sameValue(f.dataType,
                    exp.get(schema.fieldIndex(f.name)), got.get(i)))
                }
              }
            } finally h.close()
          }
          checked += 1
        case None =>
      }
      seed = seed.next
    }
  }

  test("columnar decode equals the row codec: random schemas (incl. " +
    "non-nullable fields), 0-row and multi-batch streams, NaN/-0.0, " +
    "TimestampNTZ and decimals (200 cases)") {
    val spark = graft.SparkSpec.spark
    val params = Gen.Parameters.default
    var seed = rng.Seed(11L)
    var checked = 0
    var (empty, multiBatch, negZero, nan, ntz, dec, strictArray) =
      (0, 0, 0, 0, 0, 0, 0)
    while (checked < 200) {
      val sampled = for {
        schema <- genSchema
        strict <- Gen.listOfN(schema.length, Gen.oneOf(true, false))
        n <- Gen.frequency(4 -> Gen.choose(1, 40), 1 -> Gen.const(0))
        s = StructType(schema.fields.zip(strict).map { case (f, st) =>
          f.copy(nullable = !st) })
        rows <- Gen.listOfN(n, genRow(s))
      } yield (s, rows)
      sampled.apply(params, seed) match {
        case Some((schema, rows)) =>
          val bytes = ArrowCodec.encode(schema, rows.iterator, batchRows = 7)
          val (codecSchema, codecRows) = ArrowCodec.decode(bytes)
          val expect = codecRows.toSeq
          val df = ArrowIpc.fromBytes(spark, bytes)
          assert(df.schema == codecSchema, s"schema drift: ${df.schema}")
          assert(codecSchema == schema)
          val got = df.collect().toSeq
          assert(got.length == expect.length)
          expect.zip(got).foreach { case (e, g) =>
            schema.fields.zipWithIndex.foreach { case (f, i) =>
              assert(sameValue(f.dataType, e.get(i), g.get(i)),
                s"${f.name}:${f.dataType} ${e.get(i)} != ${g.get(i)}")
            }
          }
          // coverage of the cases the columnar path must not drift on
          if (rows.isEmpty) empty += 1
          if (rows.length > 7) multiBatch += 1
          val values = got.flatMap(_.toSeq)
          if (values.exists {
              case d: Double => d == 0.0 && 1 / d < 0
              case f: Float => f == 0.0f && 1 / f < 0
              case _ => false }) negZero += 1
          if (values.exists {
              case d: Double => d.isNaN
              case f: Float => f.isNaN
              case _ => false }) nan += 1
          if (schema.exists(_.dataType == TimestampNTZType)) ntz += 1
          if (schema.exists(_.dataType.isInstanceOf[DecimalType])) dec += 1
          if (schema.exists(f => !f.nullable &&
              f.dataType.isInstanceOf[ArrayType])) strictArray += 1
          checked += 1
        case None =>
      }
      seed = seed.next
    }
    Seq("0-row" -> empty, "multi-batch" -> multiBatch, "-0.0" -> negZero,
      "NaN" -> nan, "TimestampNTZ" -> ntz, "decimal" -> dec,
      "non-nullable array" -> strictArray).foreach { case (what, k) =>
      assert(k > 0, s"no $what case among the 200")
    }
  }
}
