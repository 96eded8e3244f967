package graft.interop

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Arrow IPC interchange: schema mapping, value fidelity (nulls,
  * arrays, temporal types), the distributed directory sink/source, and
  * the ScanArrow algebra leaf. */
class ArrowSpec extends SparkSpec {

  private def roundTrip(df: org.apache.spark.sql.DataFrame): Seq[Row] = {
    val bytes = ArrowCodec.encode(df.schema, df.collect().iterator)
    val (schema, rows) = ArrowCodec.decode(bytes)
    assert(schema == df.schema, s"schema drift: $schema vs ${df.schema}")
    rows.toSeq
  }

  test("all supported scalar types round-trip bit-exactly incl. nulls") {
    val schema = StructType(Seq(
      StructField("b", BooleanType), StructField("i", IntegerType),
      StructField("l", LongType), StructField("f", FloatType),
      StructField("d", DoubleType), StructField("s", StringType),
      StructField("bin", BinaryType), StructField("dt", DateType)))
    val rows = Seq(
      Row(true, 1, 2L, 1.5f, 2.5, "héllo", Array[Byte](1, 2, 3),
        java.sql.Date.valueOf("2024-02-29")),
      Row(null, null, null, null, null, null, null, null),
      Row(false, -2147483648, Long.MinValue, Float.NaN,
        Double.PositiveInfinity, "", Array[Byte](),
        java.sql.Date.valueOf("1969-12-31")))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq), schema)
    val got = roundTrip(df)
    assert(got.length == 3)
    val g0 = got.find(r => r.get(0) == true).get
    assert(g0.getInt(1) == 1 && g0.getLong(2) == 2L &&
      g0.getString(5) == "héllo")
    assert(g0.getAs[Array[Byte]](6).toSeq == Seq[Byte](1, 2, 3))
    assert(g0.getDate(7) == java.sql.Date.valueOf("2024-02-29"))
    val gn = got.find(_.isNullAt(1)).get
    (0 until 8).foreach(i => assert(gn.isNullAt(i)))
    val gm = got.find(r => !r.isNullAt(1) && r.getInt(1) < 0).get
    assert(gm.getLong(2) == Long.MinValue)
    assert(gm.getFloat(3).isNaN && gm.getDouble(4).isPosInfinity)
  }

  test("arrays of primitives (embedding columns) round-trip") {
    val sp = spark
    import sp.implicits._
    val df = Seq(
      (1L, Seq(1.0f, 2.5f, -3.25f), Seq("a", "b"), Seq(1.5, 2.5)),
      (2L, Seq.empty[Float], Seq.empty[String], Seq.empty[Double]))
      .toDF("id", "emb", "tags", "ds")
    val got = roundTrip(df).sortBy(_.getLong(0))
    assert(got(0).getSeq[Float](1) == Seq(1.0f, 2.5f, -3.25f))
    assert(got(0).getSeq[String](2) == Seq("a", "b"))
    assert(got(0).getSeq[Double](3) == Seq(1.5, 2.5))
    assert(got(1).getSeq[Float](1).isEmpty)
  }

  test("timestamps round-trip at microsecond precision") {
    val sp = spark
    import sp.implicits._
    val t = java.sql.Timestamp.valueOf("2024-06-01 12:34:56.123456")
    val df = Seq(Tuple1(t)).toDF("ts")
    val got = roundTrip(df)
    assert(got.head.getTimestamp(0) == t)
  }

  test("timestamps and dates before the Gregorian cutover cross the " +
    "codec and the columnar decode as Spark converts them") {
    val sp = spark
    val schema = StructType(Seq(StructField("t", TimestampType),
      StructField("d", DateType)))
    val rows = Seq(
      Row(java.sql.Timestamp.valueOf("1000-03-01 12:00:00.000001"),
        java.sql.Date.valueOf("1000-03-01")),
      Row(java.sql.Timestamp.valueOf("1582-10-04 23:59:59"),
        java.sql.Date.valueOf("1582-10-04")),
      Row(java.sql.Timestamp.valueOf("2024-06-01 12:34:56.123456"),
        java.sql.Date.valueOf("2024-06-01")))
    val bytes = ArrowCodec.encode(schema, rows.iterator)
    assert(ArrowCodec.decode(bytes)._2.toSeq == rows)
    val viaSpark = sp.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
    val decoded = ArrowIpc.fromBytes(sp, bytes)
    assert(decoded.collect().toSeq == rows)
    val internal = Seq(unix_micros(col("t")), unix_date(col("d")))
    assert(decoded.select(internal: _*).collect().toSeq ==
      viaSpark.select(internal: _*).collect().toSeq)
  }

  test("distributed IPC directory write/read preserves data across " +
    "many partitions (incl. empty ones)") {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_arrow_").toString + "/d"
    // 11 partitions over 100 rows: some partitions near-empty
    val df = sp.range(0, 100, 1, 11)
      .select(col("id"), (col("id") % 7).cast("double").as("v"),
        concat(lit("s"), col("id")).as("s"))
    ArrowIpc.write(df, dir)
    val back = ArrowIpc.read(sp, dir)
    assert(back.schema == df.schema)
    assert(back.count() == 100)
    assert(back.agg(sum("id")).collect().head.getLong(0) == 4950L)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".arrow"))
    assert(files.length == 11, "one IPC file per partition")
  }

  test("ScanArrow algebra leaf lowers to the IPC directory reader and " +
    "round-trips through plan JSON") {
    val sp = spark
    val dir = java.nio.file.Files
      .createTempDirectory("graft_arrow_").toString + "/n"
    ArrowIpc.write(sp.read.parquet(s"$sfDir/nation.parquet"), dir)
    val node = graft.rel.ScanArrow(dir)
    assert(graft.rel.RelJson.parse(graft.rel.RelJson.write(node)) == node)
    val df = new graft.rel.Lower(sp, Map.empty).lower(node)
    assert(df.count() == 25)
  }

  test("registerArrow binds a live IPC stream as a named table " +
    "(read_record_batches)") {
    val sp = spark
    val bytes = ArrowIpc.toBytes(sp.read.parquet(s"$sfDir/nation.parquet"))
    val session = new graft.api.GraftSession(sp)
      .registerArrow("batches", bytes)
    val out = session.table("batches", "n_nationkey" -> "INT")
      .df.count()
    assert(out == 25)
  }

  test("non-nullable array columns round-trip without schema drift") {
    val sp = spark
    // array(non-nullable, non-nullable) is itself non-nullable — the
    // encoder must carry field nullability, not force nullable lists
    val df = sp.range(0, 3)
      .select(array(col("id").cast("double"),
        (col("id") * 2).cast("double")).as("v"))
    assert(!df.schema("v").nullable)
    val got = roundTrip(df)
    assert(got.map(_.getSeq[Double](0)).toSet ==
      Set(Seq(0.0, 0.0), Seq(1.0, 2.0), Seq(2.0, 4.0)))
  }

  test("read refuses a directory without _SUCCESS (partial write)") {
    val sp = spark
    val dir = java.nio.file.Files
      .createTempDirectory("graft_arrow_").toString + "/p"
    ArrowIpc.write(sp.read.parquet(s"$sfDir/region.parquet"), dir)
    assert(new java.io.File(dir, "_SUCCESS").delete())
    val e = intercept[IllegalArgumentException](ArrowIpc.read(sp, dir))
    assert(e.getMessage.contains("_SUCCESS"))
  }

  test("partially-consumed directory read releases cleanly (LIMIT)") {
    val sp = spark
    val dir = java.nio.file.Files
      .createTempDirectory("graft_arrow_").toString + "/l"
    // multi-batch files so LIMIT abandons live Arrow readers mid-stream;
    // the task-completion listener must close them (off-heap buffers)
    ArrowIpc.write(sp.range(0, 20000, 1, 2).toDF("id"), dir)
    val got = ArrowIpc.read(sp, dir).limit(5).collect()
    assert(got.length == 5)
    // and a second full read still works
    assert(ArrowIpc.read(sp, dir).count() == 20000L)
  }

  test("DSv2 scan: column pruning reaches the arrow decoder; " +
    "count-style empty projection keeps the row count") {
    val sp = spark
    val dir = java.nio.file.Files
      .createTempDirectory("graft_arrow_").toString + "/v2"
    ArrowIpc.write(sp.range(0, 1000, 1, 3)
      .select(col("id"), (col("id") % 9).cast("double").as("v"),
        concat(lit("s"), col("id")).as("s")), dir)
    val pruned = ArrowIpc.read(sp, dir).select("s")
    val leaf = pruned.queryExecution.executedPlan.collectLeaves().head
    assert(leaf.toString.contains("BatchScan"),
      s"arrow dir must plan as a DSv2 BatchScan, got:\n$leaf")
    assert(leaf.output.map(_.name) == Seq("s"),
      s"scan must prune to the projected column, got ${leaf.output}")
    assert(pruned.count() == 1000)
    // empty projection (count star): no columns decoded, count intact
    assert(ArrowIpc.read(sp, dir).count() == 1000)
  }

  test("DSv2 write: overwrite creates, append adds, re-overwrite " +
    "truncates; no staging debris survives") {
    val sp = spark
    val dir = java.nio.file.Files
      .createTempDirectory("graft_arrow_").toString + "/w"
    sp.range(0, 10, 1, 3).toDF("id").write.format("arrow-ipc")
      .mode("overwrite").save(dir)
    assert(ArrowIpc.read(sp, dir).count() == 10)
    sp.range(10, 15).toDF("id").write.format("arrow-ipc")
      .mode("append").save(dir)
    val appended = ArrowIpc.read(sp, dir)
    assert(appended.count() == 15)
    assert(appended.agg(sum("id")).collect()(0).getLong(0) == 105L)
    sp.range(0, 4).toDF("id").write.format("arrow-ipc")
      .mode("overwrite").save(dir)
    assert(ArrowIpc.read(sp, dir).count() == 4)
    val leftovers = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("_staging"))
    assert(leftovers.isEmpty, s"staging debris: ${leftovers.toSeq}")
  }

  test("DSv2 write: append with a mismatched schema is rejected " +
    "loudly (a mixed-schema directory would be unreadable)") {
    val sp = spark
    val dir = java.nio.file.Files
      .createTempDirectory("graft_arrow_").toString + "/a"
    sp.range(0, 5).toDF("id").write.format("arrow-ipc")
      .mode("overwrite").save(dir)
    val e = intercept[IllegalArgumentException] {
      sp.range(0, 5).select(col("id").cast("string").as("name"))
        .write.format("arrow-ipc").mode("append").save(dir)
    }
    assert(e.getMessage.contains("does not match directory schema"))
    assert(ArrowIpc.read(sp, dir).count() == 5, "directory unchanged")
  }

  test("DSv2 write: a failed overwrite leaves the previous contents " +
    "readable (commit truncates only after every task succeeds)") {
    val sp = spark
    val dir = java.nio.file.Files
      .createTempDirectory("graft_arrow_").toString + "/f"
    sp.range(0, 5).toDF("id").write.format("arrow-ipc")
      .mode("overwrite").save(dir)
    val boom = org.apache.spark.sql.functions.udf((id: Long) =>
      if (id == 3L) throw new RuntimeException("boom") else id)
    intercept[Exception] {
      sp.range(0, 10).toDF("id").select(boom(col("id")).as("id"))
        .write.format("arrow-ipc").mode("overwrite").save(dir)
    }
    val back = ArrowIpc.read(sp, dir)
    assert(back.count() == 5,
      "old data must survive a failed overwrite — the delete-first " +
        "write could not offer this")
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("_staging")) == 0,
      "failed write must clean its staging directory")
  }

  test("toBytes/fromBytes: one IPC stream moves a result driver-side") {
    val sp = spark
    val df = sp.read.parquet(s"$sfDir/region.parquet")
    val back = ArrowIpc.fromBytes(sp, ArrowIpc.toBytes(df))
    assert(back.schema == df.schema)
    assert(back.collect().toSet == df.collect().toSet)
  }

  test("writeStream: a filter/project over fromBytes runs no Spark job; " +
    "an aggregate runs no more jobs than toLocalIterator; a parquet " +
    "passthrough runs the same per-partition jobs") {
    import org.apache.spark.sql.graft.Meter
    import scala.jdk.CollectionConverters._
    val sp = spark
    val sc = sp.sparkContext
    val lineitem = sp.read.parquet(s"$sfDir/lineitem.parquet")
    val body = ArrowCodec.encode(lineitem.schema, lineitem.collect().iterator)
    // each leg gets a fresh frame: re-running one AQE plan reuses its
    // finished shuffle stages and would undercount the second leg
    def pass() = ArrowIpc.fromBytes(sp, body)
      .filter(col("l_quantity") >= 30)
      .select(col("l_orderkey"), (col("l_extendedprice") * 2).as("p"))
    def agg() = ArrowIpc.fromBytes(sp, body).groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
    def scan() = sp.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_quantity") >= 30).select("l_orderkey", "l_quantity")
    def stream(df: org.apache.spark.sql.DataFrame) = Meter(sc) {
      val out = new java.io.ByteArrayOutputStream()
      ArrowIpc.writeStream(df, out, batchRows = 64)
      ArrowCodec.decode(out.toByteArray)._2.toSeq
    }
    // the encode every response took before: one job per partition
    def perPartition(df: org.apache.spark.sql.DataFrame) = Meter(sc) {
      ArrowCodec.decode(ArrowCodec.encode(df.schema,
        df.toLocalIterator().asScala, 64))._2.toSeq
    }
    def rows(rs: Seq[Row]) = rs.map(_.toString).sorted

    val (p, mp) = stream(pass())
    assert(mp.jobs == 0 && mp.tasks == 0, mp.summary)
    assert(rows(p) == rows(pass().collect().toSeq))
    val (_, mpOld) = perPartition(pass())
    assert(mpOld.jobs > 0, mpOld.summary)

    val (a, ma) = stream(agg())
    val (aOld, maOld) = perPartition(agg())
    assert(ma.jobs <= maOld.jobs, s"${ma.summary} vs ${maOld.summary}")
    assert(rows(a) == rows(aOld))

    val (s0, ms) = stream(scan())
    val (sOld, msOld) = perPartition(scan())
    assert(ms.jobs == msOld.jobs && ms.jobs > 0,
      s"${ms.summary} vs ${msOld.summary}")
    assert(rows(s0) == rows(sOld))
  }
}
