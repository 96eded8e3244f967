package graft.interop

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.graft.ArrowLocal
import java.io.{ByteArrayOutputStream, OutputStream}
import scala.jdk.CollectionConverters._

/** Distributed Arrow IPC directory source/sink — the interchange data
  * plane next to parquet (the reference moves every result as Arrow:
  * to_pyarrow_batches / Flight do_get, expr/api.py:590-678). Layout
  * mirrors a parquet directory: `part-NNNNN-<writeId>.arrow` stream
  * files plus `_SUCCESS`, each file written by its own partition — no
  * driver collect, no single-writer bottleneck, and any Arrow-native
  * reader (pyarrow.ipc, DuckDB, DataFusion) globbing `*.arrow`
  * consumes the files directly.
  *
  * Scale: write is one distributed pass (each task streams its
  * partition through a bounded record-batch buffer); read lists files
  * on the driver (metadata only) and decodes them across the cluster,
  * one task per file, preserving the write parallelism.
  */
object ArrowIpc {

  /** Write `df` as a directory of Arrow IPC stream files through the
    * [[ArrowDataSource]] DSv2 writer (staged attempt files + driver
    * commit — retry/speculation safe; `_SUCCESS` last, so a reader can
    * never observe a half-written directory). The target is removed
    * first: this helper's contract is "replace whatever was there",
    * including a schema change, which DSv2 overwrite-by-name
    * validation would otherwise reject. */
  def write(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    val dir = new Path(path)
    val fs = FileSystem.get(dir.toUri, spark.sessionState.newHadoopConf())
    if (fs.exists(dir)) fs.delete(dir, true)
    df.write.format("arrow-ipc").mode("overwrite").save(path)
  }

  /** Read a directory of Arrow IPC stream files back as a DataFrame
    * through the [[ArrowDataSource]] DSv2 provider: a real BatchScan
    * (column pruning reaches the decoder), one partition per part
    * file, `_SUCCESS`-gated listing, streams decoded without a byte
    * array (no 2 GiB part cap), and off-heap buffers released via the
    * reader's task-managed close — LIMIT/early-abort safe. */
  def read(spark: SparkSession, path: String): DataFrame = {
    // eager gate: the provider's inferSchema is lenient about a
    // missing _SUCCESS (the WRITE path must see fresh/debris targets),
    // so enforce readability here where a read is unambiguous
    require(ArrowDataSource.isReadable(path,
      spark.sessionState.newHadoopConf()),
      s"$path has no _SUCCESS marker — incomplete or failed arrow write")
    spark.read.format("arrow-ipc").load(path)
  }

  /** Write `df` to `out` as one Arrow IPC stream of record batches of
    * at most `batchRows` rows — the serve plane's one encode path (the
    * inline `/run` response, the `/exchange` response and [[toBytes]]).
    * A plan Catalyst folded into driver-local rows (`LocalTableScanExec`,
    * e.g. a filter/project over a [[fromBytes]] body) is taken with
    * `collect()`, which runs no Spark job. Any other plan streams
    * through `toLocalIterator`, one partition per job, so memory stays
    * bounded by one partition plus one batch whatever the result size. */
  def writeStream(df: DataFrame, out: OutputStream,
      batchRows: Int = 4096): Unit = {
    val rows = df.queryExecution.executedPlan match {
      case _: LocalTableScanExec => df.collect().iterator
      case _ => df.toLocalIterator().asScala
    }
    ArrowCodec.encodeTo(df.schema, rows, out, batchRows)
  }

  /** [[writeStream]] into ONE in-memory IPC stream — the `to_pyarrow`
    * driver-side convenience. For big results use [[write]]; this
    * materializes on the driver by design. */
  def toBytes(df: DataFrame): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    writeStream(df, bytes)
    bytes.toByteArray
  }

  /** Decode one IPC stream, column by column, into a driver-local frame
    * over a `LocalRelation` ([[org.apache.spark.sql.graft.ArrowLocal]]).
    * Bytes that are not an Arrow IPC stream throw
    * `IllegalArgumentException` with the decoder's message. */
  def fromBytes(spark: SparkSession, bytes: Array[Byte]): DataFrame =
    ArrowLocal.fromIPC(spark, bytes)
}
