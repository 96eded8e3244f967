package org.apache.spark.sql.graft

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.arrow.ArrowConverters

/** Columnar decode of one Arrow IPC stream into a driver-local frame.
  *
  * Spark's own `ArrowConverters.fromIPCStream` reads the record batches
  * as column vectors; each row is projected once into an `UnsafeRow`
  * and the rows become a `LocalRelation`. No external `Row` is built on
  * the way, and a plan Catalyst folds over the relation (a filter or a
  * projection) stays a `LocalTableScanExec`, which `collect()` answers
  * without a Spark job.
  *
  * Lives in the org.apache.spark.sql namespace because the converter,
  * `DataTypeUtils.toAttributes` and `Dataset.ofRows` are private[sql]
  * (the seam [[StatsCheckpoint]] and [[Meter]] use). */
object ArrowLocal {

  /** The IPC stream in `bytes` as a frame over a `LocalRelation`. Bytes
    * that are not an Arrow IPC stream throw `IllegalArgumentException`
    * carrying the decoder's message. The stream's off-heap buffers are
    * released before this returns. */
  def fromIPC(spark: org.apache.spark.sql.SparkSession,
      bytes: Array[Byte]): DataFrame = {
    val (schema, rows) =
      try {
        val (it, schema) = ArrowConverters.fromIPCStream(bytes)
        try {
          val toUnsafe = UnsafeProjection.create(schema)
          (schema, it.map(r => toUnsafe(r).copy()).toVector)
        } finally it.close()
      } catch {
        case NonFatal(e) => throw new IllegalArgumentException(
          s"not an Arrow IPC stream: ${e.getMessage}", e)
      }
    Dataset.ofRows(spark.asInstanceOf[SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
  }
}
