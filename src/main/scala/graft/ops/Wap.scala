package graft.ops

import graft.interop.ParquetRead
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.charset.StandardCharsets.UTF_8

/** Write-audit-publish (the reference's wap.py:36-214, which drives
  * Iceberg branch semantics: write to an audit branch, run checks,
  * fast-forward main). Re-expressed over plain parquet + atomic
  * directory renames so it works on any Hadoop filesystem:
  *
  * ```
  * sink/
  *   _staging/<token>/    staged parquet — invisible to readers
  *   v_<token>/           published versions (immutable)
  *   _CURRENT             pointer file naming the live version token
  * ```
  *
  * `publish` stages the data, runs the audit plan AGAINST THE STAGED
  * FILES (what readers would actually see, not the pre-write plan),
  * and only then promotes: `rename(_staging/t, v_t)` (atomic dir move)
  * followed by an atomic `_CURRENT` pointer swap
  * (`FileContext.rename(OVERWRITE)`). A failed audit throws and leaves
  * the currently-published version untouched; the staged files are
  * kept under `_staging/<token>` for debugging (a retry with a new
  * token is unaffected).
  *
  * Readers resolve `_CURRENT` → `v_<token>` via [[readCurrent]]; a
  * reader holding the previous version keeps reading its immutable
  * `v_` directory — the swap never mutates published files (snapshot
  * isolation, the property Iceberg branches give the reference).
  *
  * Scale: the only non-bulk operations are two metadata renames; the
  * data is written once, to its final filesystem, by the normal
  * distributed parquet writer. The audit is an arbitrary Spark plan
  * over the staged directory — it scales like any other query.
  */
object Wap {

  /** The binding name under which the staged relation is visible to an
    * audit plan expressed in the algebra ([[graft.rel.Publish]]). */
  val StagedBinding = "__staged"

  final class AuditFailedException(
      val sink: String, val token: String, val sample: Seq[String])
      extends RuntimeException(
        s"audit failed for $sink (staged token $token); " +
          s"first violations: ${sample.mkString("; ")}")

  /** Stage `df` under `sink`, run `audit` on the staged data (must
    * return an EMPTY result to pass — rows are violations), then
    * atomically promote. Returns the published token. */
  def publish(
      spark: SparkSession,
      df: DataFrame,
      sink: String,
      audit: DataFrame => DataFrame,
      token: Option[String] = None): String = {
    val conf = spark.sessionState.newHadoopConf()
    val sinkPath = new Path(sink)
    val fs = FileSystem.get(sinkPath.toUri, conf)
    val tok = token.getOrElse(
      java.util.UUID.randomUUID().toString.replace("-", "").take(16))
    val staging = new Path(sink, s"_staging/$tok")
    val version = new Path(sink, s"v_$tok")
    require(!fs.exists(version), s"version token $tok already published")

    df.write.mode("overwrite").parquet(staging.toString)
    val staged = ParquetRead.read(spark, staging.toString)
    val violations = audit(staged).take(5)
    if (violations.nonEmpty)
      throw new AuditFailedException(sink, tok,
        violations.map(_.toString).toSeq)

    // promote: staged files become the version dir in one metadata op…
    if (!fs.rename(staging, version))
      throw new java.io.IOException(s"rename $staging -> $version failed")
    // …then the pointer swap makes it live. rename-with-OVERWRITE is
    // the atomic primitive (plain FileSystem.rename cannot replace an
    // existing file; delete-then-rename would leave a no-pointer
    // window a concurrent reader could observe).
    val pointer = new Path(sink, "_CURRENT")
    val tmp = new Path(sink, s"_CURRENT.tmp.$tok")
    val out = fs.create(tmp, true)
    try out.write(tok.getBytes(UTF_8)) finally out.close()
    FileContext.getFileContext(sinkPath.toUri, conf)
      .rename(tmp, pointer, Options.Rename.OVERWRITE)
    tok
  }

  /** The live version token, if anything has been published. */
  def current(spark: SparkSession, sink: String): Option[String] = {
    val pointer = new Path(sink, "_CURRENT")
    val fs = FileSystem.get(pointer.toUri, spark.sessionState.newHadoopConf())
    if (!fs.exists(pointer)) None
    else {
      val in = fs.open(pointer)
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](256)
        var n = in.read(buf)
        while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
        Some(new String(bytes.toByteArray, UTF_8).trim)
      } finally in.close()
    }
  }

  /** Read the live published version (fails if none). */
  def readCurrent(spark: SparkSession, sink: String): DataFrame = {
    val tok = current(spark, sink).getOrElse(
      throw new IllegalArgumentException(s"nothing published at $sink"))
    ParquetRead.read(spark, s"$sink/v_$tok")
  }

  /** The path of the live published version directory. */
  def currentPath(spark: SparkSession, sink: String): Option[String] =
    current(spark, sink).map(tok => s"$sink/v_$tok")
}
