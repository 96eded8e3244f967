package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver's TPC-H-ish testdata (TESTDATA.md).
  *
  * Every table is a plain parquet file at `$sfDir/$name.parquet`. We read
  * them lazily through [[interop.ParquetRead]] so Catalyst gets the parquet
  * footer schema and can push filters / prune columns into the scan — at
  * 100 TB the scan is the dominant cost and pushdown is the first-order
  * optimization.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = interop.ParquetRead.read(spark, s"$sfDir/$name.parquet")
    if (name == "events") fixNanosTs(df) else df
  }

  /** See [[events]]: ns-precision ts arrives as Long under
    * `spark.sql.legacy.parquet.nanosAsLong`; convert to µs TIMESTAMP_NTZ. */
  private def fixNanosTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr(
            "cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      case _ => df
    }

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = apply(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}

/** One declared operator: the Spark implementation and (when the semantics
  * are ANSI-SQL-expressible) the equivalent DuckDB oracle SQL the driver
  * cross-checks against at sf0.01.
  *
  * Column names must match between `fn`'s output and the oracle (the
  * driver sorts columns by name before hashing). Results are kept
  * deterministic: every query either aggregates or carries a total ORDER
  * BY on a unique key, and floating-point aggregates are rounded so that
  * Spark-vs-DuckDB summation-order differences cannot flip a hash.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    /** headline queries run in Bench at sf0.1 */
    bench: Boolean = false)
