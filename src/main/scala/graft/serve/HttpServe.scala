package graft.serve

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer,
  HttpsConfigurator, HttpsParameters, HttpsServer}
import graft.interop.ParquetRead
import graft.rel.{RelHash, RelJson}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import javax.net.ssl.{KeyManagerFactory, SSLContext, TrustManagerFactory}

/** Network transport for the serve [[Registry]] — the out-of-process
  * seam the reference exposes over Arrow Flight (flight/__init__.py:
  * 133-279: serve an unbound expr, call it from another process). Built
  * on the JDK's HttpServer (zero new dependencies); data moves by
  * SHARED-STORAGE HANDOFF, not through the socket: the caller names
  * parquet paths for the plan's unbound inputs and an output location,
  * the server executes and writes, the response is metadata. At 100 TB
  * that is the only sane wire contract — the control plane is HTTP,
  * the data plane is the cluster's storage (exactly how the exchange
  * barrier and cache artifacts already move between sessions).
  *
  * Endpoints:
  *  - `GET  /plans`            → JSON list of served plan names
  *  - `GET  /plan/<name>`      → the canonical plan JSON + build hash
  *  - `POST /plan/<name>`      → register body (plan JSON) under name
  *  - `POST /exchange/<name>`  → body = one Arrow IPC stream bound to
  *                                the plan's `input` table (rename via
  *                                `?binding=`); response = the plan
  *                                output as a CHUNKED Arrow IPC stream
  *                                (`?batch_rows=` sizes the batches) —
  *                                the Flight do_exchange analogue:
  *                                upload, transform, download in one
  *                                round trip
  *  - `POST /run/<name>`       → body `{"bindings":{tbl:path,...},
  *                                "out":path}`; executes, writes
  *                                parquet to `out`, returns
  *                                `{"rows":N,"out":...}`. With
  *                                `"format":"arrow"` the output is a
  *                                directory of Arrow IPC stream files
  *                                ([[graft.interop.ArrowIpc]]); with
  *                                no `"out"` at all the result comes
  *                                back INLINE as one Arrow IPC stream
  *                                in the response body (the
  *                                `to_pyarrow` wire contract),
  *                                streamed in `batch_rows` record
  *                                batches one partition at a time.
  *
  * Both Arrow responses go through [[graft.interop.ArrowIpc.writeStream]].
  * An `/exchange` body decodes column by column into a driver-local
  * relation; when Catalyst folds the served plan over it back into
  * local rows (a filter or projection of the body), the response is
  * taken with `collect()` and runs no Spark job. Other plans (an
  * aggregate, a parquet-bound `/run`) stream one partition per job,
  * so server memory stays bounded by one partition plus one batch.
  *
  * Auth: pass `secret = Some(token)` and EVERY endpoint requires
  * `Authorization: Bearer <token>` (constant-time compare via
  * MessageDigest.isEqual; a plain == leaks the match length through
  * timing). The reference's Flight server runs BasicAuth middleware +
  * mTLS (flight/__init__.py:140-147); a bearer shared secret is the
  * honest HTTP-plane equivalent of the password leg — transport
  * encryption stays a deployment concern (terminate TLS in front).
  * With `secret = None` (default) the server is open, matching the
  * reference's no-auth default.
  *
  * TLS: pass `tls = Some(HttpServe.Tls(keyStore, password))` and the
  * same endpoints serve over HTTPS (JDK HttpsServer, PKCS12 keystore —
  * no new dependencies). `requireClientCert = true` plus a trust store
  * holding the client CA turns on MUTUAL TLS: the handshake itself
  * rejects unauthenticated peers before any handler runs — the
  * transport leg of the reference Flight server's mTLS
  * (flight/__init__.py:140-147), composable with the bearer secret
  * (cert proves the channel, token proves the caller).
  */
final class HttpServe(registry: Registry, spark: SparkSession,
    secret: Option[String] = None,
    tls: Option[HttpServe.Tls] = None) {

  private var server: HttpServer = _

  /** Bind on 127.0.0.1:`port` (0 = ephemeral); returns the bound port. */
  def start(port: Int = 0): Int = {
    val addr = new InetSocketAddress("127.0.0.1", port)
    server = tls match {
      case None => HttpServer.create(addr, 0)
      case Some(t) =>
        val hs = HttpsServer.create(addr, 0)
        val ctx = HttpServe.sslContext(t)
        hs.setHttpsConfigurator(new HttpsConfigurator(ctx) {
          override def configure(p: HttpsParameters): Unit = {
            val ssl = ctx.getDefaultSSLParameters
            ssl.setNeedClientAuth(t.requireClientCert)
            p.setSSLParameters(ssl)
          }
        })
        hs
    }
    server.createContext("/plans", handler { (_, _) =>
      (200, registry.served.map(q).mkString("[", ",", "]"))
    })
    server.createContext("/plan/", handler { (ex, body) =>
      val name = ex.getRequestURI.getPath.stripPrefix("/plan/")
      ex.getRequestMethod match {
        case "POST" =>
          val rel = RelJson.parse(body)
          val hash = registry.servePlan(name, rel)
          (200, s"""{"name":${q(name)},"build_hash":${q(hash)}}""")
        case _ =>
          registry.plan(name) match {
            case Some(rel) =>
              (200, s"""{"name":${q(name)},"build_hash":${q(
                RelHash.buildHash(rel))},"plan":${RelJson.write(rel)}}""")
            case None => (404, s"""{"error":${q(s"no served plan $name")}}""")
          }
      }
    })
    server.createContext("/run/", rawHandler { (ex, body) =>
      val name = ex.getRequestURI.getPath.stripPrefix("/run/")
      val req = RelJson.parseAny(body).asInstanceOf[Map[String, Any]]
      val bindings = req.getOrElse("bindings", Map.empty[String, Any])
        .asInstanceOf[Map[String, Any]]
        .map { case (t, p) => t -> ParquetRead.read(spark, p.asInstanceOf[String]) }
      val df = registry.call(name, bindings)
      val format = req.getOrElse("format", "parquet").asInstanceOf[String]
      req.get("out").map(_.asInstanceOf[String]) match {
        case Some(out) =>
          val rows = format match {
            case "parquet" =>
              df.write.mode("overwrite").parquet(out)
              ParquetRead.read(spark, out).count()
            case "arrow" =>
              graft.interop.ArrowIpc.write(df, out)
              graft.interop.ArrowIpc.read(spark, out).count()
            case other => throw new IllegalArgumentException(
              s"unknown format '$other' (parquet | arrow)")
          }
          json(200,
            s"""{"name":${q(name)},"rows":$rows,"out":${q(out)},"format":${q(format)}}""")
        case None =>
          // inline data plane: the result IS the response body, one
          // Arrow IPC stream — any Arrow client parses it directly.
          // An explicit non-arrow format needs "out": fail loudly
          // rather than hand a parquet-expecting client an Arrow body.
          if (req.contains("format") && format != "arrow")
            throw new IllegalArgumentException(
              s"inline response is arrow-only; format '$format' requires \"out\"")
          // chunked-transfer encode (approximates Flight do_exchange's
          // incremental batch semantics over HTTP, ref
          // flight/exchanger.py:62-117): record batches of `batch_rows`
          // go out as they fill and the client decodes batch by batch
          // off the live socket (ArrowIpc.writeStream bounds server
          // memory). Planning faults still 400/500 (the plan is analyzed
          // before headers go out); a mid-stream task fault truncates
          // the IPC stream, which every Arrow reader surfaces loudly.
          val batchRows = req.get("batch_rows")
            .map(_.asInstanceOf[Number].intValue).getOrElse(4096)
          require(batchRows > 0, s"batch_rows must be positive: $batchRows")
          df.queryExecution.assertAnalyzed() // fail BEFORE headers
          arrowStream(df, batchRows)
      }
    })
    server.createContext("/exchange/", bytesHandler { (ex, bodyBytes) =>
      // the do_exchange analogue (ref flight/exchanger.py:119-392):
      // request body = one Arrow IPC stream (the input table), response
      // = the served plan's output as a CHUNKED Arrow IPC stream —
      // upload, transform, download in one round trip. The body decodes
      // column by column into an in-memory relation (the exchange
      // contract ships the data WITH the call; callers with
      // cluster-scale inputs use /run's shared-storage bindings
      // instead), so a filter/project plan over it folds to local rows
      // and answers without a Spark job. A body that is not an Arrow
      // IPC stream is the caller's fault: 400 with the decoder's message.
      val name = ex.getRequestURI.getPath.stripPrefix("/exchange/")
      require(bodyBytes.nonEmpty,
        "exchange needs an Arrow IPC stream as the request body")
      val params = Option(ex.getRequestURI.getQuery).getOrElse("")
        .split("&").filter(_.contains("=")).map { kv =>
          val Array(k, v) = kv.split("=", 2); k -> v
        }.toMap
      val binding = params.getOrElse("binding", "input")
      val batchRows = params.get("batch_rows").map(_.toInt).getOrElse(4096)
      require(batchRows > 0, s"batch_rows must be positive: $batchRows")
      val in = graft.interop.ArrowIpc.fromBytes(spark, bodyBytes)
      arrowStream(registry.call(name, Map(binding -> in)), batchRows)
    })
    server.setExecutor(null) // serial — Spark drives the real work
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = if (server != null) server.stop(0)

  private def q(s: String): String = RelJson.escape(s)

  /** Handler return: a fully-materialized body, or a chunked stream
    * written incrementally (content length 0 → HTTP chunked transfer
    * under the JDK server). */
  private sealed trait Resp
  private final case class Full(code: Int, bytes: Array[Byte],
      contentType: String) extends Resp
  private final case class Chunked(contentType: String,
      write: java.io.OutputStream => Unit) extends Resp

  private def arrowStream(df: DataFrame, batchRows: Int): Resp =
    Chunked("application/vnd.apache.arrow.stream",
      out => graft.interop.ArrowIpc.writeStream(df, out, batchRows))

  private def json(code: Int, body: String): Resp =
    Full(code, body.getBytes(UTF_8), "application/json")

  private def handler(f: (HttpExchange, String) => (Int, String)): HttpHandler =
    rawHandler { (ex, body) => val (c, s0) = f(ex, body); json(c, s0) }

  private def rawHandler(
      f: (HttpExchange, String) => Resp): HttpHandler =
    bytesHandler { (ex, bytes) => f(ex, new String(bytes, UTF_8)) }

  /** True when no secret is configured, or the request carries
    * `Authorization: Bearer <secret>` (constant-time compare). */
  private def authorized(ex: HttpExchange): Boolean = secret match {
    case None => true
    case Some(s) =>
      val h = Option(ex.getRequestHeaders.getFirst("Authorization"))
        .getOrElse("")
      val token =
        if (h.startsWith("Bearer ")) h.stripPrefix("Bearer ") else ""
      java.security.MessageDigest.isEqual(
        token.getBytes(UTF_8), s.getBytes(UTF_8))
  }

  private def bytesHandler(
      f: (HttpExchange, Array[Byte]) => Resp): HttpHandler =
    (ex: HttpExchange) => try {
      // NonFatal → error envelope (caller faults 400, server faults
      // 500); the outer finally closes the exchange even on a fatal
      // Error, so the client never hangs on a silent dead socket
      // (review-caught: an Exception-only catch leaked the exchange)
      val resp =
        if (!authorized(ex)) {
          // drain the body so the connection can be reused, then 401;
          // the plan/run/exchange handlers are never reached
          ex.getRequestBody.readAllBytes()
          ex.getResponseHeaders.set("WWW-Authenticate", "Bearer")
          json(401, s"""{"error":"unauthorized"}""")
        } else try f(ex, ex.getRequestBody.readAllBytes())
        catch {
          case e: IllegalArgumentException =>
            json(400, s"""{"error":${q(String.valueOf(e.getMessage))}}""")
          case scala.util.control.NonFatal(e) =>
            json(500, s"""{"error":${q(String.valueOf(e.getMessage))}}""")
        }
      resp match {
        case Full(code, bytes, contentType) =>
          ex.getResponseHeaders.set("Content-Type", contentType)
          ex.sendResponseHeaders(code, bytes.length)
          ex.getResponseBody.write(bytes)
        case Chunked(contentType, write) =>
          ex.getResponseHeaders.set("Content-Type", contentType)
          ex.sendResponseHeaders(200, 0) // 0 → chunked transfer coding
          write(ex.getResponseBody)
      }
    } finally ex.close()
}

object HttpServe {

  /** TLS material for the serve plane. `keyStore` is a PKCS12 file
    * holding the server keypair; with `requireClientCert`, `trustStore`
    * (PKCS12 of trusted client certs/CAs — defaults to the key store's
    * password when its own is omitted) gates the handshake: MUTUAL TLS.
    * Passwords travel via env in the CLI (never argv). */
  final case class Tls(
      keyStore: String,
      keyStorePassword: String,
      requireClientCert: Boolean = false,
      trustStore: Option[String] = None,
      trustStorePassword: Option[String] = None)

  private def loadKeyStore(path: String,
      pw: String): java.security.KeyStore = {
    val ks = java.security.KeyStore.getInstance("PKCS12")
    val in = new java.io.FileInputStream(path)
    try ks.load(in, pw.toCharArray) finally in.close()
    ks
  }

  private[serve] def sslContext(t: Tls): SSLContext = {
    require(!t.requireClientCert || t.trustStore.nonEmpty,
      "requireClientCert needs a trustStore of client certs")
    val kmf = KeyManagerFactory.getInstance(
      KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(loadKeyStore(t.keyStore, t.keyStorePassword),
      t.keyStorePassword.toCharArray)
    val tms = t.trustStore.map { ts =>
      val tmf = TrustManagerFactory.getInstance(
        TrustManagerFactory.getDefaultAlgorithm)
      tmf.init(loadKeyStore(ts,
        t.trustStorePassword.getOrElse(t.keyStorePassword)))
      tmf.getTrustManagers
    }.orNull
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, tms, null)
    ctx
  }
}
