package xorqbench

import graft.api.GraftSession
import graft.interop.ArrowCodec
import graft.serve.{HttpServe, Registry}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import java.net.{HttpURLConnection, URI}
import scala.collection.mutable

/** `serve_exchange`: one client against an in-process [[HttpServe]]
  * on 127.0.0.1. Three in four operations POST an Arrow IPC slice of
  * lineitem to `/exchange/<plan>`; the rest POST `/run/<plan>` bound to
  * the lineitem parquet and read the result inline. Responses are
  * decoded and checked against an in-process [[Registry.call]] on the
  * same input. */
final class Serve(spark: SparkSession, fx: Fixtures, seed: Long,
    trace: Trace, plant: Boolean)
    extends Workload {

  private val registry = new Registry(spark)
  private val server = new HttpServe(registry, spark)
  private val lineitem = spark.read.parquet(fx.lineitem)
  private val plans = Plans.served(
    new GraftSession(spark).bind("input" -> lineitem))
  plans.foreach { case (n, r) => registry.servePlan(n, r) }
  private var port = 0
  private val nOrders = spark.read.parquet(fx.orders).count()
  private val poolSize = 11

  /** Seeded slices, one per size stratum of 1k-50k lines (log scale),
    * sized within 5% of the stratum's middle and cut at seeded offsets
    * from one run of consecutive orders (about four lines per order,
    * 56k lines at sf0.1). */
  private val (schema, pool): (StructType, Array[Array[Row]]) = {
    val rng = new scala.util.Random(seed)
    val width = math.min(14000L, nOrders).toInt
    val from = 1 + rng.nextInt(math.max(1, (nOrders - width + 1).toInt))
    val df = lineitem.where(col("l_orderkey").between(from, from + width - 1))
      .orderBy("l_orderkey", "l_linenumber")
    val rows = df.collect()
    (df.schema, Array.tabulate(poolSize) { i =>
      val middle = 1000 * math.pow(50, (i + 0.5) / poolSize)
      val lines = math.min(rows.length,
        (middle * (0.95 + 0.1 * rng.nextDouble())).toInt)
      val at = rng.nextInt(rows.length - lines + 1)
      rows.slice(at, at + lines)
    })
  }
  private val expected = mutable.Map.empty[String, (Long, Long)]

  /** The request mix, a round of fifteen operations: four `/run`
    * (aggregate and passthrough in turn, at 3, 7, 11 and 14) and eleven
    * exchanges, one per slice, alternating small and large slices and
    * switching plan every two. With an odd round the median of whole
    * rounds falls in the middle of one kind's latencies, not on the edge
    * between two kinds. The seed rotates the start. */
  val cycle = 15
  private val runs = Seq(3, 7, 11, 14)
  private val rotation = new scala.util.Random(seed ^ 0x5DEECE66DL).nextInt(cycle)
  private def request(k: Int): (String, String, Int) = {
    val i = Math.floorMod(k + rotation, cycle)
    val r = runs.indexOf(i)
    if (r >= 0) ("run", if (r % 2 == 0) "agg" else "pass", -1)
    else {
      val e = i - runs.count(_ < i)
      val slice = if (e % 2 == 0) e / 2 else poolSize - 1 - e / 2
      ("exchange", if ((e / 2) % 2 == 0) "agg" else "pass", slice)
    }
  }

  def setup(): Unit = {
    port = server.start(0)
    for (k <- 0 until 2) operation(-1 - k)
  }

  private def key(k: Int): String = request(k) match {
    case ("run", plan, _) => s"run/$plan"
    case (_, plan, slice) => s"exchange/$plan/$slice"
  }

  def reference(): Unit = {
    def call(p: String, in: org.apache.spark.sql.DataFrame) =
      Env.rowsChecksum(registry.call(p, Map("input" -> in)).collect().iterator)
    expected ++= Env.parallel((0 until cycle).map(request).distinct.map {
      case ("run", p, _) => () => s"run/$p" -> call(p, lineitem)
      case (_, p, i) => () => s"exchange/$p/$i" -> call(p,
        spark.createDataFrame(java.util.Arrays.asList(pool(i): _*), schema))
    })
    if (plant) expected(key(0)) = Report.wrong(expected(key(0)))
  }

  def operation(k: Int): Op = {
    val (kind, plan, slice) = request(k)
    val op = new Op(k, s"$kind/$plan")
    val rows = metered(op)(exchange(op, kind, plan, slice))
    if (rows != null && k >= 0) received += ((op, rows))
    op
  }

  /** One timed request; returns the decoded response rows, or null. */
  private def exchange(op: Op, kind: String, plan: String, slice: Int): Array[Row] = {
    op.startNs = System.nanoTime()
    val body = kind match {
      case "exchange" => trace.step(op, "arrow.encode_ms")(
        ArrowCodec.encode(schema, pool(slice).iterator))
      case _ => s"""{"bindings":{"input":"${fx.lineitem}"}}""".getBytes("UTF-8")
    }
    val conn = URI.create(s"http://127.0.0.1:$port/$kind/$plan").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    var rows: Array[Row] = null
    try {
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type",
        if (kind == "exchange") "application/vnd.apache.arrow.stream"
        else "application/json")
      val status = trace.step(op, "serve.ttfb_ms") {
        val out = conn.getOutputStream
        try out.write(body) finally out.close()
        conn.getResponseCode
      }
      if (status != 200) {
        op.add("serve.http_errors", 1)
        op.fail(s"$kind/$plan: HTTP $status")
      } else {
        val bytes = trace.step(op, "serve.stream_ms")(
          conn.getInputStream.readAllBytes())
        rows = trace.step(op, "arrow.decode_ms")(
          ArrowCodec.decode(bytes)._2.toArray)
        op.add("arrow.bytes_sent", body.length)
        op.add("arrow.bytes_received", bytes.length)
      }
    } catch {
      case e: java.io.IOException => op.fail(s"$kind/$plan: $e")
    } finally conn.disconnect()
    op.endNs = System.nanoTime()
    rows
  }

  /** Decoded responses of the window, checked after it so the client
    * spends the window on requests. */
  private val received = mutable.ArrayBuffer.empty[(Op, Array[Row])]

  def verify(ops: Seq[Op]): Unit = received.foreach { case (op, rows) =>
    val got = Env.rowsChecksum(rows.iterator)
    val want = expected(key(op.id))
    if (got != want) op.fail(s"${key(op.id)} checksum $got, expected $want")
  }

  def release(): Unit = received.clear()
  def teardown(): Unit = server.stop()
}
