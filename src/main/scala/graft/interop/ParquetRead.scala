package graft.interop

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetOptions, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The one way the program reads parquet: `spark.read.parquet` without
  * the schema-inference job.
  *
  * Spark infers a parquet schema from ONE footer (unless `mergeSchema`
  * is on), but reads it inside a one-task Spark job. On a composed plan
  * over three scans, or a cache hit over one artifact, those jobs were
  * most of the jobs an operation ran. [[FooterSchemaParquet]] reads the
  * same footer on the driver instead. Listing, hidden-file filtering
  * and partition discovery stay Spark's, so the frame is the one
  * `spark.read.parquet` would give, schema and rows alike. Nothing is
  * cached: a rewritten file yields its new schema on the next read.
  */
object ParquetRead {

  /** `spark.read.options(options).parquet(path)`, with the schema read
    * from one footer on the driver. */
  def read(spark: SparkSession, path: String,
      options: (String, String)*): DataFrame =
    spark.read.format(classOf[FooterSchemaParquet].getName)
      .options(options.toMap).load(path)
}

/** Spark's parquet source with a driver-side `inferSchema`. It touches
  * the file Spark's own non-merging rule touches (`ParquetUtils
  * .inferSchema`): `_common_metadata`, else `_metadata`, else the first
  * data file in path order. It converts the footer as Spark does, so
  * `nanosAsLong`, binary-as-string, INT96, TimestampNTZ inference and
  * the row-metadata key behave the same. With `mergeSchema` on (option
  * or session conf) every footer is read, which is Spark's own
  * parallel job. */
class FooterSchemaParquet extends ParquetFileFormat {

  override def inferSchema(
      spark: SparkSession,
      options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = {
    val conf = getSqlConf(spark)
    val opts = new ParquetOptions(options, conf)
    if (opts.mergeSchema) super.inferSchema(spark, options, files)
    else {
      val byPath = files.sortBy(_.getPath.toString)
      def named(n: String) = byPath.find(_.getPath.getName == n)
      val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
        ParquetFileWriter.PARQUET_METADATA_FILE)
      named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
        .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
        .orElse(byPath.find(f => !summaries(f.getPath.getName)))
        .flatMap { st =>
          footer(st, spark, options, opts.ignoreCorruptFiles).map(f =>
            ParquetFileFormat.readSchemaFromFooter(f,
              new ParquetToSparkSchemaConverter(conf)))
        }
    }
  }

  /** The footer without its row groups, or the error Spark raises for
    * an unreadable one (`FAILED_READ_FILE.CANNOT_READ_FILE_FOOTER`);
    * `None` for an unreadable one under `ignoreCorruptFiles`. */
  private def footer(st: FileStatus, spark: SparkSession,
      options: Map[String, String], ignoreCorrupt: Boolean): Option[Footer] =
    try Some(new Footer(st.getPath, ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(st, getHadoopConf(spark, options)),
      SKIP_ROW_GROUPS)))
    catch {
      case e: RuntimeException =>
        if (ignoreCorrupt) None
        else throw new SparkException(
          "FAILED_READ_FILE.CANNOT_READ_FILE_FOOTER",
          Map("path" -> st.getPath.toString), e)
    }
}
