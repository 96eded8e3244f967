package xorqbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}

/** Session, fixtures, checksums and the host noise figure shared by
  * every workload. */
object Env {

  val nproc: Int = Runtime.getRuntime.availableProcessors()

  /** The same session settings as `graft.Bench`: local[nproc], shuffle
    * partitions = nproc, AQE on, UTC. Warehouse and scratch space live
    * under the run's own root. With `probes` (traced runs) local files
    * are read through [[CountingLocalFs]] and every plan the analyzer
    * checks is counted, so [[Probes]] sees what the program does. */
  def session(root: Path, probes: Boolean): SparkSession = {
    val b = SparkSession.builder()
    if (probes) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
      .withExtensions(_.injectCheckRule(_ => _ => Probes.analyses.incrementAndGet()))
    val s = b
      .master(s"local[$nproc]")
      .appName("xorqbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "ERROR")
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", root.resolve("hadoop-tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Spark conf entries recorded in the noise figure. */
  def confSummary(spark: SparkSession): Map[String, String] =
    Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled", "spark.sql.session.timeZone")
      .map(k => k -> spark.conf.get(k, "")).toMap

  /** `graft.Bench`'s checksum: row count and xor of xxhash64 over every
    * column, so each projected column is computed. */
  def checksum(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(count(lit(1)), bit_xor(col("h"))).collect().head
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Run independent calls concurrently (Spark takes concurrent jobs
    * from one session) and return their results in order. */
  def parallel[T](fs: Seq[() => T]): Seq[T] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.sequence(fs.map(f => Future(f()))),
      scala.concurrent.duration.Duration.Inf)
  }

  /** Order-independent checksum of driver-side rows (decoded Arrow
    * responses and collected reference results). */
  def rowsChecksum(rows: Iterator[Row]): (Long, Long) = {
    var n = 0L
    var acc = 0L
    rows.foreach { r =>
      n += 1
      acc += scala.util.hashing.MurmurHash3.stringHash(
        r.toSeq.map(String.valueOf).mkString("\u0001")).toLong * 0x9E3779B97F4A7C15L
    }
    (n, acc)
  }

  /** Host steal seconds (field 8 of /proc/stat's cpu line, USER_HZ=100)
    * and load1, read the same way as `graft.Bench`. */
  def stealSeconds(): Double =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim
        .split("\\s+")
      if (f.length > 8) f(8).toLong / 100.0 else 0.0
    } catch { case _: Exception => 0.0 }

  def load1(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Driver heap in use after full collections, in MB. */
  def heapMb(): Double = {
    val rt = Runtime.getRuntime
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(50) }
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }
}

/** TPC-H-shaped customer/orders/lineitem tables at scale factor `sf`
  * (sf 1 = 150k customers, 1.5M orders, ~6M lines, the TPC-H
  * cardinalities). Every value is a hash of (a fixed seed, column, row
  * id), so the tables are the same whatever the partitioning. */
final case class Fixtures(dir: String) {
  def customer: String = s"$dir/customer.parquet"
  def orders: String = s"$dir/orders.parquet"
  def lineitem: String = s"$dir/lineitem.parquet"
}

object Fixtures {
  /** The tables do not depend on a run's seed, so runs share them and
    * the seed only draws what the workloads do with them. */
  private val tableSeed = 1L
  /** First order date, and the span of order dates in days. */
  val epoch = "1992-01-01"
  val dateSpan = 2406

  /** Copy generated tables into a fresh directory. */
  def stage(generated: Path, dir: Path): Fixtures = {
    val src = Files.walk(generated)
    try src.forEach { p =>
      val to = dir.resolve(generated.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    } finally src.close()
    Fixtures(dir.toString)
  }

  def generate(spark: SparkSession, dir: String, sf: Double): Fixtures = {
    val nCust = math.max(10L, (150000 * sf).toLong)
    val nOrd = math.max(10L, (1500000 * sf).toLong)
    val nPart = math.max(10L, (200000 * sf).toLong)
    val nSupp = math.max(10L, (10000 * sf).toLong)
    val parts = Env.nproc
    def h(tag: String, id: org.apache.spark.sql.Column) =
      xxhash64(lit(tableSeed), lit(tag), id)
    def u(tag: String, id: org.apache.spark.sql.Column, n: Long) =
      pmod(h(tag, id), lit(n))
    val fx = Fixtures(dir)

    spark.range(0, nCust, 1, parts).select(
      (col("id") + 1).as("c_custkey"),
      format_string("Customer#%09d", col("id") + 1).as("c_name"),
      u("c_nation", col("id"), 25).cast("int").as("c_nationkey"),
      ((u("c_bal", col("id"), 1099999) - 99999) / 100.0).as("c_acctbal"),
      element_at(array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY").map(lit): _*),
        (u("c_seg", col("id"), 5) + 1).cast("int")).as("c_mktsegment"))
      .write.mode("overwrite").parquet(fx.customer)

    def orderDate(id: org.apache.spark.sql.Column) =
      date_add(lit(epoch).cast("date"), u("o_date", id, dateSpan).cast("int"))
    spark.range(0, nOrd, 1, parts).select(
      (col("id") + 1).as("o_orderkey"),
      (u("o_cust", col("id"), nCust) + 1).as("o_custkey"),
      element_at(array(lit("F"), lit("O"), lit("P")),
        (u("o_status", col("id"), 3) + 1).cast("int")).as("o_orderstatus"),
      ((u("o_price", col("id"), 50000000) + 90000) / 100.0).as("o_totalprice"),
      orderDate(col("id")).as("o_orderdate"),
      element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW").map(lit): _*),
        (u("o_prio", col("id"), 5) + 1).cast("int")).as("o_orderpriority"))
      .write.mode("overwrite").parquet(fx.orders)

    // 1-7 lines per order; the line key mixes order id and line number
    val lines = spark.range(0, nOrd, 1, parts)
      .select(col("id").as("oid"), orderDate(col("id")).as("odate"),
        explode(sequence(lit(1), (u("o_lines", col("id"), 7) + 1)
          .cast("int"))).as("ln"))
      .withColumn("lid", col("oid") * 8 + col("ln"))
    lines.select(
      (col("oid") + 1).as("l_orderkey"),
      (u("l_part", col("lid"), nPart) + 1).as("l_partkey"),
      (u("l_supp", col("lid"), nSupp) + 1).as("l_suppkey"),
      col("ln").as("l_linenumber"),
      (u("l_qty", col("lid"), 50) + 1).cast("double").as("l_quantity"),
      ((u("l_qty", col("lid"), 50) + 1) *
        (u("l_part", col("lid"), nPart) % 100000 + 90000) / 100.0)
        .as("l_extendedprice"),
      (u("l_disc", col("lid"), 11) / 100.0).as("l_discount"),
      (u("l_tax", col("lid"), 9) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        (u("l_rf", col("lid"), 3) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("F"), lit("O")),
        (u("l_ls", col("lid"), 2) + 1).cast("int")).as("l_linestatus"),
      date_add(col("odate"), (u("l_ship", col("lid"), 121) + 1).cast("int"))
        .as("l_shipdate"))
      .write.mode("overwrite").parquet(fx.lineitem)
    fx
  }
}
