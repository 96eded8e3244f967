package graft

import graft.build.{Build, Catalog}
import graft.rel.{RelHash, RelJson}
import java.nio.file.{Files, Paths}

/** `xorq build`/`run`-style artifact lifecycle over saved plans
  * (ref cli.py: build_command :233, run_command :306):
  *
  *   runMain graft.Cli list <buildsDir>
  *   runMain graft.Cli show <buildsDir> <hash|alias>
  *   runMain graft.Cli run  <buildsDir> <hash|alias> <outParquetDir>
  *   runMain graft.Cli alias <buildsDir> <name> <hash>
  *   runMain graft.Cli lineage <buildsDir> <hash|alias>
  *   runMain graft.Cli record  <buildsDir> <hash|alias>
  *   runMain graft.Cli verify  <buildsDir> <hash|alias>
  *   runMain graft.Cli serve <buildsDir> <port>    (0 = ephemeral)
  *   runMain graft.Cli push <buildsDir> <remoteDir>  (fast-forward only)
  *   runMain graft.Cli pull <buildsDir> <remoteDir>
  *
  * `run` re-executes a serialized plan with no access to the code that
  * built it — the artifact IS the program.
  */
object Cli {
  def main(args: Array[String]): Unit = args.toList match {
    case "build" :: planJson :: dir :: Nil =>
      val rel = RelJson.parse(Files.readString(Paths.get(planJson)))
      val art = Build.save(rel, dir)
      println(art.hash)

    case "list" :: dir :: Nil =>
      val cat = new Catalog(dir).aliases
      Build.list(dir).foreach { h =>
        val names = cat.collect { case (n, hh) if hh == h => n }
        println(s"$h${if (names.nonEmpty) names.mkString("  [", ",", "]") else ""}")
      }

    case "show" :: dir :: ref :: Nil =>
      val hash = resolve(dir, ref)
      println(Files.readString(Paths.get(dir, hash, "metadata.json")))
      println(RelJson.write(Build.load(dir, hash)))

    case "run" :: dir :: ref :: out :: Nil =>
      val hash = resolve(dir, ref)
      val rel = Build.load(dir, hash)
      val spark = LocalSpark()
      // the full execute() path: cache/tee/exchange effects resolved,
      // builtin UDXFs resolvable — an artifact referencing them runs
      // with no access to the code that built it
      val df = new graft.api.GraftSession(spark,
        functions = graft.udf.Builtins.catalog).execute(rel)
      df.write.mode("overwrite").parquet(out)
      println(s"""{"hash":"$hash","rows":${spark.read.parquet(out).count()},"out":"$out"}""")
      spark.stop()

    case "alias" :: dir :: name :: hash :: Nil =>
      new Catalog(dir).register(name, hash)
      println(s"$name -> $hash")

    // reproducibility lifecycle (ref catalog/replay.py): capture the
    // dependency surface + result fingerprint, later re-execute and
    // classify any divergence as source Drift vs true Mismatch.
    case "lineage" :: dir :: ref :: Nil =>
      val spark = LocalSpark()
      println(graft.build.Lineage
        .capture(dir, resolve(dir, ref), spark).toJson)
      spark.stop()

    // column-level lineage: pure static walk of the saved plan — no
    // session, no execution (build/ColumnLineage.scala)
    case "columns" :: dir :: ref :: Nil =>
      val rel = Build.load(dir, resolve(dir, ref))
      graft.build.ColumnLineage.origins(rel).toSeq.sortBy(_._1)
        .foreach { case (out, os) =>
          val srcs = os.toSeq.sortBy(o => (o.source, o.column))
            .map(o => s"${o.source}#${o.column}").mkString(", ")
          println(s"$out <- $srcs")
        }

    case "record" :: dir :: ref :: Nil =>
      val spark = LocalSpark()
      println(graft.build.Replay.record(dir, resolve(dir, ref), spark).toJson)
      spark.stop()

    case "verify" :: dir :: ref :: Nil =>
      val spark = LocalSpark()
      val outcome = graft.build.Replay.verify(dir, resolve(dir, ref), spark)
      println(s"""{"outcome":"$outcome"}""")
      spark.stop()
      if (outcome != graft.build.Replay.Ok) sys.exit(1)

    // catalog transport: sync aliases + referenced artifacts through a
    // bare file remote (CatalogSync: three-way merge, fast-forward push)
    case "push" :: dir :: remote :: Nil =>
      val es = graft.build.CatalogSync.push(dir, remote)
      println(s"""{"pushed":${es.length},"remote":${RelJson.escape(remote)}}""")

    case "pull" :: dir :: remote :: Nil =>
      val es = graft.build.CatalogSync.pull(dir, remote)
      println(s"""{"entries":${es.length},"remote":${RelJson.escape(remote)}}""")

    // serve every build (by hash and by alias) over the HTTP transport
    // — `xorq serve` for artifacts: another process lists/fetches/runs
    // them with data handed off via parquet paths.
    case "serve" :: dir :: portStr :: Nil =>
      val spark = LocalSpark()
      val registry = new graft.serve.Registry(spark)
      Build.list(dir).foreach(h => registry.servePlan(h, Build.load(dir, h)))
      new Catalog(dir).aliases.foreach { case (n, h) =>
        registry.servePlan(n, Build.load(dir, h))
      }
      // GRAFT_SERVE_SECRET (env, never argv: ps would leak it) turns
      // on bearer auth for every endpoint; GRAFT_SERVE_KEYSTORE +
      // GRAFT_SERVE_KEYSTORE_PASS turn on TLS, and adding
      // GRAFT_SERVE_TRUSTSTORE (+ optional _PASS) requires CLIENT
      // CERTS — mutual TLS, the reference Flight server's transport leg
      val tls = sys.env.get("GRAFT_SERVE_KEYSTORE").map { ksPath =>
        graft.serve.HttpServe.Tls(
          keyStore = ksPath,
          keyStorePassword = sys.env.getOrElse("GRAFT_SERVE_KEYSTORE_PASS",
            sys.error("GRAFT_SERVE_KEYSTORE needs GRAFT_SERVE_KEYSTORE_PASS")),
          requireClientCert = sys.env.contains("GRAFT_SERVE_TRUSTSTORE"),
          trustStore = sys.env.get("GRAFT_SERVE_TRUSTSTORE"),
          trustStorePassword = sys.env.get("GRAFT_SERVE_TRUSTSTORE_PASS"))
      }
      val http = new graft.serve.HttpServe(registry, spark,
        secret = sys.env.get("GRAFT_SERVE_SECRET"), tls = tls)
      val port = http.start(portStr.toInt)
      println(s"""{"serving":${registry.served.length},"port":$port,"auth":${sys.env.contains("GRAFT_SERVE_SECRET")},"tls":${tls.nonEmpty},"mtls":${tls.exists(_.requireClientCert)}}""")
      Thread.currentThread().join()

    case other =>
      System.err.println(s"usage: list|show|run|alias|push|pull|serve ... (got $other)")
      sys.exit(2)
  }

  private def resolve(dir: String, ref: String): String =
    if (ref.length == 64) ref
    else new Catalog(dir).resolve(ref).getOrElse(
      sys.error(s"unknown alias '$ref'"))
}
