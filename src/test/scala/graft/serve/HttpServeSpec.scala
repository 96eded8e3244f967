package graft.serve

import graft.SparkSpec
import graft.rel._
import java.nio.file.Files
import org.apache.spark.sql.graft.Meter
import scala.sys.process._

/** e2e: plans served in THIS JVM are listed, fetched, registered, and
  * executed by a SEPARATE PROCESS (curl) over the HTTP transport, with
  * data handed off via shared storage. */
class HttpServeSpec extends SparkSpec {

  private def curl(args: String*): String =
    (Seq("curl", "-s") ++ args).!!.trim

  test("a second process lists, runs, and registers served plans") {
    val registry = new Registry(spark)
    val served = Sort(
      Aggregate(
        UnboundTable("src", Seq("n_regionkey" -> "INT")),
        keys = Seq("rk" -> RCol("n_regionkey")),
        aggs = Seq("n" -> RAgg("count", Nil))),
      Seq(SortKey(RCol("rk"), asc = true, nullsFirst = true)))
    registry.servePlan("by_region", served)

    val http = new HttpServe(registry, spark)
    val port = http.start()
    try {
      val base = s"http://127.0.0.1:$port"

      // list from a subprocess
      assert(curl(s"$base/plans").contains("by_region"))

      // fetch the canonical plan JSON + hash from a subprocess
      val shown = curl(s"$base/plan/by_region")
      assert(shown.contains(RelHash.buildHash(served)))

      // run from a subprocess: bindings + output location by path
      val out = Files.createTempDirectory("graft_http_out_").toString + "/r"
      val req = s"""{"bindings":{"src":"$sfDir/nation.parquet"},""" +
        s""""out":"$out"}"""
      val resp = curl("-X", "POST", "--data", req, s"$base/run/by_region")
      assert(resp.contains("\"rows\":5"), s"unexpected response: $resp")
      val got = spark.read.parquet(out).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val exp = spark.read.parquet(s"$sfDir/nation.parquet")
        .groupBy("n_regionkey").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(got == exp)

      // register a NEW plan from a subprocess, then run it
      val remote = Limit(UnboundTable("src", Nil), 3)
      val reg = curl("-X", "POST", "--data", RelJson.write(remote),
        s"$base/plan/tiny")
      assert(reg.contains(RelHash.buildHash(remote)))
      val out2 = Files.createTempDirectory("graft_http_out2_").toString + "/r"
      val resp2 = curl("-X", "POST",
        "--data", s"""{"bindings":{"src":"$sfDir/region.parquet"},"out":"$out2"}""",
        s"$base/run/tiny")
      assert(resp2.contains("\"rows\":3"), s"unexpected response: $resp2")

      // unknown plan → error envelope, not a hang
      assert(curl(s"$base/plan/nope").contains("error"))

      // served plans run through the EFFECTS pass: a Tee in a served
      // plan must write its sink (a bare lower() would skip it)
      val teeSink = Files.createTempDirectory("graft_http_tee_")
        .toString + "/sink"
      registry.servePlan("teed",
        Aggregate(Tee(UnboundTable("src", Nil), teeSink), Nil,
          Seq("n" -> RAgg("count", Nil))))
      val out3 = Files.createTempDirectory("graft_http_out3_").toString + "/r"
      val resp3 = curl("-X", "POST",
        "--data", s"""{"bindings":{"src":"$sfDir/region.parquet"},"out":"$out3"}""",
        s"$base/run/teed")
      assert(resp3.contains("\"rows\":1"), s"unexpected response: $resp3")
      assert(new java.io.File(teeSink).exists(),
        "served plan's tee sink must be written by the effects pass")
      assert(spark.read.parquet(teeSink).count() == 5)

      // arrow data plane #1: format=arrow writes an IPC directory a
      // separate process could read with pyarrow
      val outA = Files.createTempDirectory("graft_http_arrow_")
        .toString + "/r"
      val respA = curl("-X", "POST",
        "--data", s"""{"bindings":{"src":"$sfDir/nation.parquet"},""" +
          s""""out":"$outA","format":"arrow"}""",
        s"$base/run/by_region")
      assert(respA.contains("\"rows\":5"), s"unexpected response: $respA")
      val backA = graft.interop.ArrowIpc.read(spark, outA).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(backA == exp)

      // arrow data plane #2: NO "out" → the result moves INLINE as one
      // Arrow IPC stream in the HTTP response body, fetched by a
      // subprocess and decoded here — round-trip equality
      val ipcFile = Files.createTempDirectory("graft_http_ipc_")
        .resolve("r.arrow").toString
      curl("-X", "POST",
        "--data", s"""{"bindings":{"src":"$sfDir/nation.parquet"}}""",
        "-o", ipcFile, s"$base/run/by_region")
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(ipcFile))
      val inline = graft.interop.ArrowIpc.fromBytes(spark, bytes).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(inline == exp, "inline IPC result must equal the plan output")

      // explicit non-arrow format without "out" is a loud 400, not a
      // silent Arrow body handed to a parquet-expecting client
      val respBad = curl("-X", "POST",
        "--data", s"""{"bindings":{"src":"$sfDir/nation.parquet"},""" +
          s""""format":"parquet"}""",
        s"$base/run/by_region")
      assert(respBad.contains("error") && respBad.contains("arrow-only"),
        s"unexpected response: $respBad")
    } finally http.stop()
  }

  test("exchange endpoint: Arrow in, transform, chunked Arrow out — " +
    "one round trip, do_exchange semantics") {
    val registry = new Registry(spark)
    registry.servePlan("by_key", Sort(
      Aggregate(UnboundTable("input", Nil),
        keys = Seq("rk" -> RCol("n_regionkey")),
        aggs = Seq("n" -> RAgg("count", Nil))),
      Seq(SortKey(RCol("rk"), asc = true, nullsFirst = true))))
    val http = new HttpServe(registry, spark)
    val port = http.start()
    try {
      val nation = spark.read.parquet(s"$sfDir/nation.parquet")
      val reqBytes = graft.interop.ArrowIpc.toBytes(nation)
      val conn = new java.net.URL(
        s"http://127.0.0.1:$port/exchange/by_key?batch_rows=2")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type",
        "application/vnd.apache.arrow.stream")
      conn.getOutputStream.write(reqBytes)
      assert(conn.getResponseCode == 200)
      assert("chunked".equalsIgnoreCase(
        conn.getHeaderField("Transfer-Encoding")))
      val respBytes = conn.getInputStream.readAllBytes()
      val got = graft.interop.ArrowIpc.fromBytes(spark, respBytes)
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val exp = nation.groupBy("n_regionkey").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(got == exp, s"$got vs $exp")

      // custom binding name via query param
      registry.servePlan("cnt", Aggregate(UnboundTable("t", Nil), Nil,
        Seq("n" -> RAgg("count", Nil))))
      val c2 = new java.net.URL(
        s"http://127.0.0.1:$port/exchange/cnt?binding=t")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      c2.setRequestMethod("POST"); c2.setDoOutput(true)
      c2.getOutputStream.write(reqBytes)
      assert(c2.getResponseCode == 200)
      val n = graft.interop.ArrowIpc.fromBytes(spark,
        c2.getInputStream.readAllBytes()).collect().head.getLong(0)
      assert(n == nation.count())

      // empty body fails loud (400), not a confusing decode error
      val c3 = new java.net.URL(s"http://127.0.0.1:$port/exchange/cnt")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      c3.setRequestMethod("POST"); c3.setDoOutput(true)
      c3.getOutputStream.close()
      assert(c3.getResponseCode == 400)

      // a body that is not an Arrow IPC stream is the caller's fault:
      // 400 carrying the decoder's message, not a 500
      val c4 = new java.net.URL(s"http://127.0.0.1:$port/exchange/cnt")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      c4.setRequestMethod("POST"); c4.setDoOutput(true)
      c4.getOutputStream.write("not an arrow stream".getBytes("UTF-8"))
      assert(c4.getResponseCode == 400)
      val err = new String(c4.getErrorStream.readAllBytes(), "UTF-8")
      assert(err.contains("not an Arrow IPC stream"), err)
    } finally http.stop()
  }

  test("exchange of a passthrough plan and of an aggregate plan equals " +
    "an in-process Registry.call on the same input") {
    val registry = new Registry(spark)
    val input = UnboundTable("input", Nil)
    registry.servePlan("pass", Project(
      Filter(input, RBin(">=", RCol("l_quantity"), RLit("30", "DOUBLE"))),
      Seq("k" -> RCol("l_orderkey"), "q" -> RCol("l_quantity"))))
    registry.servePlan("agg", Aggregate(input,
      keys = Seq("f" -> RCol("l_returnflag")),
      aggs = Seq("n" -> RAgg("count", Nil),
        "q" -> RAgg("sum", Seq(RCol("l_quantity"))))))
    val http = new HttpServe(registry, spark)
    val port = http.start()
    try {
      val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val reqBytes = graft.interop.ArrowCodec.encode(lineitem.schema,
        lineitem.collect().iterator)
      Seq("pass", "agg").foreach { plan =>
        val conn = new java.net.URL(
          s"http://127.0.0.1:$port/exchange/$plan?batch_rows=100")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST"); conn.setDoOutput(true)
        conn.getOutputStream.write(reqBytes)
        assert(conn.getResponseCode == 200, plan)
        val (schema, rows) = graft.interop.ArrowCodec.decode(
          conn.getInputStream.readAllBytes())
        val want = registry.call(plan, Map("input" ->
          graft.interop.ArrowIpc.fromBytes(spark, reqBytes)))
        assert(schema == want.schema, plan)
        val got = rows.map(_.toString).toSeq.sorted
        assert(got.nonEmpty, plan)
        assert(got == want.collect().map(_.toString).toSeq.sorted, plan)
      }
    } finally http.stop()
  }

  test("a parquet-bound /run binding reads with no Spark job: the " +
    "request runs only its result's jobs and returns Registry.call's rows") {
    val registry = new Registry(spark)
    registry.servePlan("pass", Project(
      Filter(UnboundTable("src", Nil),
        RBin(">=", RCol("l_quantity"), RLit("30", "DOUBLE"))),
      Seq("k" -> RCol("l_orderkey"), "q" -> RCol("l_quantity"))))
    val path = s"$sfDir/lineitem.parquet"
    // the handler runs on the server's dispatcher thread, which
    // carries no job group: count every thread's jobs
    val (body, served) = Meter.anyThread(spark.sparkContext) {
      val http = new HttpServe(registry, spark)
      val port = http.start()
      try {
        val conn = new java.net.URL(s"http://127.0.0.1:$port/run/pass")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST"); conn.setDoOutput(true)
        conn.getOutputStream.write(
          s"""{"bindings":{"src":"$path"}}""".getBytes("UTF-8"))
        assert(conn.getResponseCode == 200)
        conn.getInputStream.readAllBytes()
      } finally http.stop()
    }
    val want = registry.call("pass", Map("src" -> spark.read.parquet(path)))
    val (wantBytes, plain) = Meter(spark.sparkContext)(
      graft.interop.ArrowIpc.toBytes(want))
    assert(served.jobs == plain.jobs,
      s"/run ran ${served.jobs} jobs, its result alone ${plain.jobs}")
    val (schema, rows) = graft.interop.ArrowCodec.decode(body)
    val (wantSchema, wantRows) = graft.interop.ArrowCodec.decode(wantBytes)
    assert(schema == wantSchema)
    val got = rows.map(_.toString).toSeq.sorted
    assert(got.nonEmpty)
    assert(got == wantRows.map(_.toString).toSeq.sorted)
  }

  test("inline run response is CHUNKED Arrow streaming: batches decode " +
    "incrementally off the live socket with bounded batch size") {
    val registry = new Registry(spark)
    registry.servePlan("all_rows", UnboundTable("src", Nil))
    val http = new HttpServe(registry, spark)
    val port = http.start()
    try {
      val conn = new java.net.URL(
        s"http://127.0.0.1:$port/run/all_rows")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.getOutputStream.write(
        (s"""{"bindings":{"src":"$sfDir/customer.parquet"},""" +
          s""""batch_rows":16}""").getBytes("UTF-8"))
      assert(conn.getResponseCode == 200)
      // chunked transfer coding = no Content-Length: the server never
      // materialized the whole body
      assert("chunked".equalsIgnoreCase(
        conn.getHeaderField("Transfer-Encoding")),
        s"expected chunked, got ${conn.getHeaderFields}")
      assert(conn.getHeaderField("Content-Length") == null)
      // decode batch-by-batch directly off the connection stream
      val alloc = new org.apache.arrow.memory.RootAllocator()
      val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
        conn.getInputStream, alloc)
      var batches = 0; var rows = 0L; var maxBatch = 0
      while (reader.loadNextBatch()) {
        batches += 1
        val n = reader.getVectorSchemaRoot.getRowCount
        rows += n
        maxBatch = math.max(maxBatch, n)
      }
      reader.close(); alloc.close()
      val expect = spark.read.parquet(s"$sfDir/customer.parquet").count()
      assert(rows == expect, s"streamed $rows rows, table has $expect")
      assert(maxBatch <= 16, s"batch_rows=16 violated: $maxBatch")
      assert(batches >= (expect / 16).toInt,
        s"expected many small batches, got $batches")
    } finally http.stop()
  }

  test("bearer-secret server rejects unauthenticated and wrong-token " +
    "register/list/run with 401; the right token passes (r5 ask #7)") {
    val registry = new Registry(spark)
    registry.servePlan("t", UnboundTable("src", Nil))
    val http = new HttpServe(registry, spark, secret = Some("s3cret"))
    val port = http.start()
    try {
      val base = s"http://127.0.0.1:$port"
      // no header → 401 with a WWW-Authenticate challenge
      val noAuth = curl("-i", s"$base/plans")
      assert(noAuth.contains("401") && noAuth.contains("unauthorized"),
        s"got: $noAuth")
      assert(noAuth.toLowerCase.contains("www-authenticate: bearer"))
      // wrong token → 401; registration must NOT happen
      val badReg = curl("-X", "POST",
        "-H", "Authorization: Bearer wrong",
        "--data", RelJson.write(UnboundTable("x", Nil)),
        s"$base/plan/evil")
      assert(badReg.contains("unauthorized"))
      assert(registry.plan("evil").isEmpty,
        "unauthorized register must not mutate the registry")
      // run without auth → 401, no execution side effects
      val out = Files.createTempDirectory("graft_auth_").toString + "/o"
      val badRun = curl("-X", "POST", "--data",
        s"""{"bindings":{"src":"$sfDir/region.parquet"},"out":"$out"}""",
        s"$base/run/t")
      assert(badRun.contains("unauthorized"))
      assert(!new java.io.File(out).exists(),
        "unauthorized run must not write output")
      // correct token → everything works
      val ok = curl("-H", "Authorization: Bearer s3cret", s"$base/plans")
      assert(ok.contains("\"t\""), s"got: $ok")
      val okRun = curl("-X", "POST",
        "-H", "Authorization: Bearer s3cret", "--data",
        s"""{"bindings":{"src":"$sfDir/region.parquet"},"out":"$out"}""",
        s"$base/run/t")
      assert(okRun.contains("\"rows\":5"), s"got: $okRun")
    } finally http.stop()
  }

  // ---------------------------------------------------------- TLS/mTLS

  private def keytool(args: String*): Unit = {
    val kt = sys.props("java.home") + "/bin/keytool"
    val rc = (Seq(kt) ++ args).!
    assert(rc == 0, s"keytool failed: $args")
  }

  /** Self-signed server + client keypairs and the cross trust stores,
    * generated fresh per run (never checked in). SAN=IP:127.0.0.1 so
    * the DEFAULT hostname verifier accepts the loopback URL — the test
    * exercises real verification, not a disabled one. */
  private def mkTlsMaterial(): String = {
    val dir = Files.createTempDirectory("graft_tls_").toString
    keytool("-genkeypair", "-alias", "server", "-keyalg", "RSA",
      "-keysize", "2048", "-validity", "2", "-dname", "CN=graft-serve",
      "-ext", "SAN=IP:127.0.0.1", "-keystore", s"$dir/server.p12",
      "-storetype", "PKCS12", "-storepass", "changeit")
    keytool("-exportcert", "-alias", "server", "-keystore",
      s"$dir/server.p12", "-storepass", "changeit",
      "-file", s"$dir/server.cer")
    keytool("-importcert", "-noprompt", "-alias", "server",
      "-file", s"$dir/server.cer", "-keystore", s"$dir/client-trust.p12",
      "-storetype", "PKCS12", "-storepass", "changeit")
    keytool("-genkeypair", "-alias", "client", "-keyalg", "RSA",
      "-keysize", "2048", "-validity", "2", "-dname", "CN=graft-client",
      "-keystore", s"$dir/client.p12", "-storetype", "PKCS12",
      "-storepass", "changeit")
    keytool("-exportcert", "-alias", "client", "-keystore",
      s"$dir/client.p12", "-storepass", "changeit",
      "-file", s"$dir/client.cer")
    keytool("-importcert", "-noprompt", "-alias", "client",
      "-file", s"$dir/client.cer", "-keystore", s"$dir/server-trust.p12",
      "-storetype", "PKCS12", "-storepass", "changeit")
    dir
  }

  private def httpsGet(ctx: javax.net.ssl.SSLContext, url: String,
      header: Option[(String, String)] = None): (Int, String) = {
    val conn = new java.net.URL(url).openConnection()
      .asInstanceOf[javax.net.ssl.HttpsURLConnection]
    conn.setSSLSocketFactory(ctx.getSocketFactory)
    header.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    val code = conn.getResponseCode
    val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = if (in == null) "" else
      new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    conn.disconnect()
    (code, body)
  }

  test("TLS serve plane: HTTPS with the server cert verifies and " +
    "serves; plaintext HTTP to the same port fails") {
    val dir = mkTlsMaterial()
    val registry = new Registry(spark)
    registry.servePlan("t", UnboundTable("src", Nil))
    val http = new HttpServe(registry, spark,
      tls = Some(HttpServe.Tls(s"$dir/server.p12", "changeit")))
    val port = http.start()
    try {
      // trust-store-only context (no client key — plain TLS client)
      val ctx = HttpServe.sslContext(HttpServe.Tls(
        s"$dir/client-trust.p12", "changeit",
        trustStore = Some(s"$dir/client-trust.p12")))
      val (code, body) = httpsGet(ctx, s"https://127.0.0.1:$port/plans")
      assert(code == 200 && body.contains("\"t\""), s"got $code $body")
      // a client that does NOT trust the server cert must refuse
      val distrust = javax.net.ssl.SSLContext.getInstance("TLS")
      distrust.init(null, null, null) // JDK default roots only
      intercept[javax.net.ssl.SSLException] {
        httpsGet(distrust, s"https://127.0.0.1:$port/plans")
      }
      // plaintext HTTP against the TLS port is a handshake failure:
      // curl exits nonzero (52/56 empty reply) or returns garbage
      val plain = scala.util.Try(curl("-m", "5", s"http://127.0.0.1:$port/plans"))
      assert(plain.isFailure || !plain.get.contains("\"t\""),
        s"plaintext must not work: $plain")
    } finally http.stop()
  }

  test("mutual TLS: the handshake itself rejects a certless client; " +
    "a client cert in the trust store passes, bearer still applies") {
    val dir = mkTlsMaterial()
    val registry = new Registry(spark)
    registry.servePlan("t", UnboundTable("src", Nil))
    val http = new HttpServe(registry, spark,
      secret = Some("tok3n"),
      tls = Some(HttpServe.Tls(s"$dir/server.p12", "changeit",
        requireClientCert = true,
        trustStore = Some(s"$dir/server-trust.p12"))))
    val port = http.start()
    try {
      val withCert = HttpServe.sslContext(HttpServe.Tls(
        s"$dir/client.p12", "changeit",
        trustStore = Some(s"$dir/client-trust.p12")))
      val noCert = HttpServe.sslContext(HttpServe.Tls(
        s"$dir/client-trust.p12", "changeit",
        trustStore = Some(s"$dir/client-trust.p12")))
      // certless client: the HANDSHAKE fails — no handler, no 401, the
      // request never reaches the application layer
      intercept[java.io.IOException] {
        httpsGet(noCert, s"https://127.0.0.1:$port/plans")
      }
      // cert + wrong/missing token: channel up, bearer still gates
      val (c401, b401) = httpsGet(withCert, s"https://127.0.0.1:$port/plans")
      assert(c401 == 401 && b401.contains("unauthorized"))
      // cert + token: full path
      val (c200, b200) = httpsGet(withCert, s"https://127.0.0.1:$port/plans",
        header = Some("Authorization" -> "Bearer tok3n"))
      assert(c200 == 200 && b200.contains("\"t\""), s"got $c200 $b200")
      // misconfiguration fails loud at construction, not at handshake
      intercept[IllegalArgumentException] {
        HttpServe.sslContext(HttpServe.Tls(s"$dir/server.p12", "changeit",
          requireClientCert = true))
      }
    } finally http.stop()
  }
}
