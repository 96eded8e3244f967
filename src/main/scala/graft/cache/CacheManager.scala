package graft.cache

import graft.rel._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.{FileSystem, Path}
import scala.collection.mutable

/** Expression-keyed caching — the reference's flagship feature
  * (`expr.cache(storage)`, caching/__init__.py:23-286, CachedNode
  * expr/relations.py:144-146).
  *
  * Key = cache hash of the sub-plan ([[RelHash.cacheHash]] — metadata
  * wrappers stripped) combined with the strategy's source token:
  *
  *  - `snapshot`  — token is empty: the first materialization is
  *    authoritative until dropped (caching/strategy SnapshotStrategy).
  *  - `mtime`     — token hashes (path, modificationTime, length) of
  *    every input file of the sub-plan's leaves, so ANY source change
  *    yields a new key and the stale artifact is simply not found
  *    (ModificationTimeStrategy).
  *
  * Artifacts are parquet directories — durable across sessions, unlike
  * `df.cache()`. Resolution happens BEFORE lowering: each [[Cache]]
  * node is replaced by a [[PinnedRead]] of its artifact (computing and
  * storing on miss), so Catalyst sees a plain parquet scan and the
  * entire subtree is pruned from execution on a hit — the "cache-hit
  * pruning" optimization of SURVEY §4.
  */
final class CacheManager(
    spark: SparkSession,
    storages: Map[String, CacheStorage],
    /** Exchange-target name → durable location root (RemoteTable/
      * into_backend, expr/relations.py:416-431). Every [[Exchange]]
      * barrier materializes under `<root>/<cacheHash>` — durable and
      * lineage-free (a lost executor re-reads the artifact; a
      * localCheckpoint would lose the partition), and shared: another
      * session configured with the same root reads the artifact
      * without recomputing. */
    exchanges: Map[String, String] = Map.empty,
    /** UDXF/UDWF implementations for algebra nodes that reference
      * functions by name. */
    catalog: graft.udf.FunctionCatalog = graft.udf.FunctionCatalog.empty) {

  private def mkLower(bindings: Map[String, DataFrame]) =
    new Lower(spark, bindings, catalog)

  /** originalHash → original sub-plan; makes pinning invertible
    * (pin_cache/unpin_cache, expr/relations.py:149-405). Concurrent —
    * one manager may serve many threads. In-memory index only: the
    * durable copy is the `_graft_plan.json` sidecar written next to
    * every artifact (underscore prefix → invisible to parquet readers),
    * so a NEW manager can unpin plans pinned by a previous process,
    * matching the reference's build-metadata persistence. */
  private val registry = scala.collection.concurrent.TrieMap.empty[String, Rel]

  /** Write the original sub-plan beside its artifact (idempotent). */
  private def writeSidecar(artifactPath: String, input: Rel): Unit = {
    val p = new Path(artifactPath, "_graft_plan.json")
    val fs = FileSystem.get(p.toUri, spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) {
      val out = fs.create(p, true)
      try out.write(RelJson.write(input).getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** Recover a pinned sub-plan from the artifact's sidecar. */
  private def readSidecar(artifactPath: String): Option[Rel] = {
    val p = new Path(artifactPath, "_graft_plan.json")
    val fs = FileSystem.get(p.toUri, spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(RelJson.parse(new String(in.readAllBytes(), "UTF-8")))
      finally in.close()
    }
  }

  private val missCount = new java.util.concurrent.atomic.AtomicInteger
  private val hitCount = new java.util.concurrent.atomic.AtomicInteger
  /** Number of cache misses served (computed + stored) — test/metrics;
    * exact under concurrent [[resolve]] calls. */
  def misses: Int = missCount.get
  /** Number of cache hits served. */
  def hits: Int = hitCount.get

  /** Compute the full cache key of a Cache node's input under a
    * strategy. */
  def key(input: Rel, strategy: String): String = strategy match {
    case "snapshot" => RelHash.cacheHash(input)
    case "mtime" => mtimeKey(RelHash.cacheHash(input), input)
    case other =>
      throw new IllegalArgumentException(s"unknown strategy '$other'")
  }

  /** The mtime key: `base` (the input's content hash) bound to the
    * source token of its file-backed leaves. Keys name artifact
    * directories on disk, so this format must never change. Throws
    * IllegalArgumentException when a leaf cannot be fingerprinted. */
  private def mtimeKey(base: String, input: Rel): String =
    RelHash.sha256(base + "|" + sourceToken(input))

  /** The pre-lowering EFFECTS pass: replace every [[Cache]] node with a
    * [[PinnedRead]] of its (computed-on-miss) artifact, perform every
    * [[Tee]] node's write-through (once per call — never during
    * analysis; ref TEE_PASS, expr/relations.py:911) re-rooting
    * downstream on the written sink, and materialize named [[Exchange]]
    * barriers.
    *
    * Keys are ALWAYS computed from the ORIGINAL sub-plan, before inner
    * effect nodes are rewritten — a bottom-up rewrite-then-hash would
    * key `Cache(Tee(X, sink))` on `hash(ScanParquet(sink))`, making two
    * different teed subtrees that share a sink collide on one cache
    * artifact (review-caught). `cacheHash` already strips Tee/Cache
    * wrappers, so original-subtree keys stay stable across pin/unpin. */
  def resolve(rel: Rel, bindings: Map[String, DataFrame] = Map.empty): Rel =
    rel match {
      case Cache(input, storageName, strategy) =>
        val storage = storages.getOrElse(storageName,
          throw new IllegalArgumentException(
            s"unknown cache storage '$storageName'"))
        val k = key(input, strategy) // original subtree, pre-rewrite
        registry(k) = input
        if (!storage.exists(k)) {
          missCount.incrementAndGet()
          val df = mkLower(bindings).lower(resolve(input, bindings))
          storage.store(k, df)
        } else hitCount.incrementAndGet()
        writeSidecar(storage.path(k), input)
        PinnedRead(storage.path(k), k)

      case Tee(input, sink) =>
        mkLower(bindings).lower(resolve(input, bindings))
          .write.mode("overwrite").parquet(sink)
        ScanParquet(sink)

      case Publish(input, sink, audit) =>
        // stage → audit-the-staged-files → atomic promote (wap.py
        // semantics); a failed audit throws out of resolve() and the
        // live version is untouched. The audit plan sees the staged
        // relation under Wap.StagedBinding and may reference the other
        // bindings too.
        val df = mkLower(bindings).lower(resolve(input, bindings))
        val tok = graft.ops.Wap.publish(spark, df, sink, staged => {
          val b = bindings + (graft.ops.Wap.StagedBinding -> staged)
          mkLower(b).lower(resolve(audit, b))
        })
        ScanParquet(s"$sink/v_$tok")

      case Exchange(input, target) if target != "session" =>
        // `session` stays a Lower-level localCheckpoint (explicitly
        // non-durable); every named target is a durable write-read
        // barrier. Key = content hash of the ORIGINAL subtree + the
        // mtime source token of its file-backed leaves, so a changed
        // source file yields a new artifact instead of silently serving
        // stale rows. Plans whose leaves CANNOT be fingerprinted
        // (UnboundTable / SqlView / ReadJdbc) are rejected like the
        // mtime cache strategy rejects them — a silent content-hash-only
        // fallback would reuse the first-written artifact forever across
        // sessions after the binding's data changed (ADVICE r3). The
        // explicit opt-in is a `snapshot+` target prefix: write-once
        // semantics keyed on content hash alone, stated in the name.
        // apply(), not getOrElse: the session passes a Map.withDefault
        // that derives a root for unlisted targets
        val root = try exchanges(target) catch {
          case _: NoSuchElementException =>
            throw new IllegalArgumentException(
              s"unknown exchange target '$target' " +
                s"(configured: ${exchanges.keys.toSeq.sorted.mkString(", ")}; " +
                "pass exchangeRoots to GraftSession, or use target " +
                "\"session\" for a non-durable in-session barrier)")
        }
        val base = RelHash.cacheHash(input)
        val k =
          if (target.startsWith("snapshot+")) base
          else try mtimeKey(base, input)
          catch {
            case e: IllegalArgumentException =>
              throw new IllegalArgumentException(
                s"exchange target '$target' cannot fingerprint its " +
                  s"sources (${e.getMessage}); use target \"session\" " +
                  "for a non-durable barrier, or opt into write-once " +
                  s"snapshot semantics with target \"snapshot+$target\"")
          }
        val dest = s"$root/$k"
        val success = new Path(dest, "_SUCCESS")
        val fs = FileSystem.get(success.toUri,
          spark.sessionState.newHadoopConf())
        if (!fs.exists(success))
          mkLower(bindings).lower(resolve(input, bindings))
            .write.mode("overwrite").parquet(dest)
        // sidecar beside the exchange artifact too: makes the artifact
        // self-describing (what plan produced it) and lets the orphan
        // sweep recognize it as live without a catalog entry
        writeSidecar(dest, input)
        ScanParquet(dest)

      case other => other.mapChildren(resolve(_, bindings))
    }

  /** Freeze resolved cache points permanently: like [[resolve]] but
    * fails on miss instead of computing (a pin must reference an
    * existing artifact). */
  def pin(rel: Rel): Rel = rel match {
    case Cache(input, storageName, strategy) =>
      val storage = storages(storageName)
      // key from the ORIGINAL subtree — must agree with resolve()
      val k = key(input, strategy)
      require(storage.exists(k), s"cannot pin: no artifact for $k")
      registry(k) = input
      writeSidecar(storage.path(k), input)
      PinnedRead(storage.path(k), k)
    case other => other.mapChildren(pin)
  }

  /** Invert [[pin]]/[[resolve]]: restore the original sub-plans from
    * the in-memory registry, falling back to the `_graft_plan.json`
    * sidecar beside the artifact — so unpinning works across process
    * restarts and from a different CacheManager than the one that
    * pinned. */
  def unpin(rel: Rel, storage: String = "default",
      strategy: String = "snapshot"): Rel = rel.transformUp {
    case pr @ PinnedRead(p, h) =>
      registry.get(h).orElse(readSidecar(p)) match {
        case Some(input) => Cache(input, storage, strategy)
        case None => pr
      }
  }

  /** Resolve caches then lower — the `expr.execute()` path. */
  def execute(rel: Rel,
      bindings: Map[String, DataFrame] = Map.empty): DataFrame =
    mkLower(bindings).lower(resolve(rel, bindings))

  /** Every artifact key a given INPUT sub-plan can address under any
    * strategy: the snapshot key (content hash) and, when the leaves
    * fingerprint, the mtime key. Used by the orphan sweep to decide
    * whether an artifact directory is still reachable. */
  private[graft] def possibleKeys(input: Rel): Set[String] = {
    val base = RelHash.cacheHash(input)
    val mtime =
      try Some(mtimeKey(base, input))
      catch { case _: IllegalArgumentException => None }
    Set(base) ++ mtime
  }

  /** Every artifact key a full PLAN references through its effect
    * nodes (Cache / non-session Exchange, under either strategy), plus
    * keys of already-pinned reads. */
  private[graft] def referencedKeys(rel: Rel): Set[String] = {
    val keys = Set.newBuilder[String]
    def walk(r: Rel): Unit = {
      r match {
        case Cache(input, _, _) => keys ++= possibleKeys(input)
        case Exchange(input, target) if target != "session" =>
          keys ++= possibleKeys(input)
        case PinnedRead(_, k) => keys += k
        case _ => ()
      }
      r.children.foreach(walk)
    }
    walk(rel)
    keys.result()
  }

  /** The artifact's recorded input plan, if a `_graft_plan.json`
    * sidecar exists beside it. */
  private[graft] def sidecarPlan(artifactPath: String): Option[Rel] =
    readSidecar(artifactPath)

  /** mtime-strategy token: FileStatus of every file under every leaf
    * source path, hashed order-independently (sorted). Uses the Hadoop
    * FileSystem API so it works on HDFS/S3 exactly as on local disk.
    *
    * Plans whose leaves the file system cannot fingerprint (UnboundTable
    * bindings, raw SqlView text over session views) are REJECTED rather
    * than silently keyed on the file leaves alone — under mtime a
    * rebound table would otherwise keep its old key and serve a stale
    * artifact (ADVICE r2). InMemory is fine: its literal rows are part
    * of the content hash itself. */
  private def sourceToken(rel: Rel): String = {
    val paths = mutable.ListBuffer.empty[String]
    def walk(r: Rel): Unit = {
      r match {
        case ScanParquet(p) => paths += p
        case ScanArrow(p) => paths += p
        case ReadDelta(p) => paths += p
        case ReadAvro(p) => paths += p
        case ReadXml(p, _) => paths += p
        case ReadCsv(p, _, _, _) => paths += p
        case PinnedRead(p, _) => paths += p
        case UnboundTable(n, _) => throw new IllegalArgumentException(
          s"mtime strategy cannot fingerprint unbound table '$n' " +
            "(binding content is invisible to the file system); use " +
            "the snapshot strategy or a ScanParquet/ReadCsv leaf")
        case SqlView(_, _) => throw new IllegalArgumentException(
          "mtime strategy cannot fingerprint raw-SQL views; use the " +
            "snapshot strategy or express sources as deferred reads")
        case ReadJdbc(url, table, _, _, _, _, _) =>
          throw new IllegalArgumentException(
            s"mtime strategy cannot fingerprint JDBC source $url/$table " +
              "(no file mtimes); use snapshot or TTL storage")
        case _ =>
      }
      r.children.foreach(walk)
    }
    walk(rel)
    val conf = spark.sessionState.newHadoopConf()
    val entries = paths.distinct.sorted.flatMap { p =>
      val hp = new Path(p)
      val fs = FileSystem.get(hp.toUri, conf)
      if (!fs.exists(hp)) Seq(s"$p|missing")
      else {
        val it = fs.listFiles(hp, true)
        val b = mutable.ListBuffer.empty[String]
        while (it.hasNext) {
          val st = it.next()
          b += s"${st.getPath}|${st.getModificationTime}|${st.getLen}"
        }
        b.sorted
      }
    }
    RelHash.sha256(entries.mkString(";"))
  }
}

/** Artifact store: key → durable relation. */
trait CacheStorage {
  def exists(key: String): Boolean
  def path(key: String): String
  def store(key: String, df: DataFrame): Unit
  def drop(key: String): Unit
}

/** TTL wrapper: an artifact counts as existing only while younger than
  * `ttlMillis` (the reference's ParquetTTLStorage family) — expired
  * artifacts read as missing, so the next execute recomputes and
  * overwrites in place. */
final class TtlStorage(inner: CacheStorage, spark: SparkSession,
    ttlMillis: Long) extends CacheStorage {
  def exists(key: String): Boolean =
    inner.exists(key) && {
      val p = new Path(inner.path(key), "_SUCCESS")
      val fs = FileSystem.get(p.toUri, spark.sessionState.newHadoopConf())
      System.currentTimeMillis() -
        fs.getFileStatus(p).getModificationTime < ttlMillis
    }
  def path(key: String): String = inner.path(key)
  def store(key: String, df: DataFrame): Unit = inner.store(key, df)
  def drop(key: String): Unit = inner.drop(key)
}

/** Parquet-directory store under `root` (the reference's ParquetStorage,
  * caching/__init__.py). Write is atomic-enough via _SUCCESS: a key
  * exists only when the parquet commit protocol finished. */
final class ParquetDirStorage(spark: SparkSession, root: String)
    extends CacheStorage {
  private def dir(key: String) = s"$root/$key"

  def exists(key: String): Boolean = {
    val p = new Path(dir(key), "_SUCCESS")
    val fs = FileSystem.get(p.toUri, spark.sessionState.newHadoopConf())
    fs.exists(p)
  }

  def path(key: String): String = dir(key)

  def store(key: String, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(dir(key))

  def drop(key: String): Unit = {
    val p = new Path(dir(key))
    val fs = FileSystem.get(p.toUri, spark.sessionState.newHadoopConf())
    fs.delete(p, true)
  }
}
