package graft.interop

import graft.{SparkSpec, Tables}
import graft.api.GraftSession
import graft.api.dsl._
import graft.cache.ParquetDirStorage
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.SparkException
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Meter
import scala.jdk.CollectionConverters._

/** [[ParquetRead]] gives the frame `spark.read.parquet` gives — schema,
  * rows and errors — without running a Spark job for the schema. */
class ParquetReadSpec extends SparkSpec {

  // the sf0.01 fixtures sit beside the suites' default sf0.001 ones
  private val sf01 = s"${new java.io.File(sfDir).getParent}/sf0.01"

  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** The read runs 0 jobs, and its schema and rows equal
    * `spark.read.parquet`'s. */
  private def assertParity(path: String): DataFrame = {
    val (df, read) = Meter(spark.sparkContext) {
      val d = ParquetRead.read(spark, path); d.schema; d
    }
    assert(read.jobs == 0, s"$path: the read ran ${read.jobs} jobs")
    val want = spark.read.parquet(path)
    assert(df.schema == want.schema, path)
    assert(rows(df) == rows(want), path)
    df
  }

  private def condition(read: => DataFrame): String =
    intercept[AnalysisException](read).getCondition

  private def dataFiles(dir: Path): Seq[Path] =
    Files.list(dir).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sorted

  test("every sf0.01 table: same schema and rows, no job") {
    Tables.names.foreach(n => assertParity(s"$sf01/$n.parquet"))
  }

  test("a hive-partitioned directory keeps its partition column") {
    val out = tmp("graft_pr_parts_").resolve("t").toString
    spark.read.parquet(s"$sf01/orders.parquet")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .write.partitionBy("o_orderstatus").parquet(out)
    val df = assertParity(out)
    assert(df.schema.fieldNames.last == "o_orderstatus")
  }

  test("a cache artifact with its plan sidecar reads as its rows") {
    val root = tmp("graft_pr_cache_").toString
    val g = new GraftSession(spark,
      storages = Map("default" -> new ParquetDirStorage(spark, root)))
    val t = g.readParquet(s"$sf01/nation.parquet")
      .filter(c("n_regionkey") > i(1)).cache()
    t.execute().collect()
    val artifact = Files.list(Paths.get(root)).iterator.asScala.toSeq match {
      case Seq(one) => one
      case other => fail(s"expected one artifact, found $other")
    }
    assert(Files.exists(artifact.resolve("_graft_plan.json")))
    assertParity(artifact.toString)
  }

  test("a _common_metadata summary wins over the data files, and " +
    "_metadata does when it is the only summary") {
    // summaries of a (key, status) dataset beside data files that also
    // carry a price column: Spark's schema is the summary's
    val narrow = tmp("graft_pr_summ_").resolve("t").toString
    val orders = spark.read.parquet(s"$sf01/orders.parquet")
    orders.select("o_orderkey", "o_orderstatus")
      .write.option("parquet.summary.metadata.level", "ALL").parquet(narrow)
    val wide = tmp("graft_pr_wide_").resolve("t")
    orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
      .write.parquet(wide.toString)
    Seq("_common_metadata", "_metadata").foreach(f =>
      Files.copy(Paths.get(narrow, f), wide.resolve(f)))
    val df = assertParity(wide.toString)
    assert(df.schema.fieldNames.toSeq == Seq("o_orderkey", "o_orderstatus"))
    Files.delete(wide.resolve("_common_metadata"))
    assert(assertParity(wide.toString).schema == df.schema)
  }

  test("a single file") {
    val out = tmp("graft_pr_file_").resolve("t")
    spark.read.parquet(s"$sf01/customer.parquet").write.parquet(out.toString)
    assertParity(dataFiles(out).head.toString)
  }

  test("an empty directory fails as spark.read.parquet does") {
    val empty = tmp("graft_pr_empty_").toString
    assert(condition(ParquetRead.read(spark, empty)) ==
      "UNABLE_TO_INFER_SCHEMA")
    assert(condition(spark.read.parquet(empty)) == "UNABLE_TO_INFER_SCHEMA")
  }

  test("a file that is not parquet fails with Spark's footer error") {
    val dir = tmp("graft_pr_bad_")
    Files.writeString(dir.resolve("part-0.parquet"), "not a parquet file")
    val got = intercept[SparkException](ParquetRead.read(spark, dir.toString))
    assert(got.getCondition == "FAILED_READ_FILE.CANNOT_READ_FILE_FOOTER")
    // Spark raises the same error inside its inference job, so it
    // arrives wrapped in the job's abort
    val aborted = intercept[SparkException](spark.read.parquet(dir.toString))
    val want = Iterator.iterate[Throwable](aborted)(_.getCause)
      .takeWhile(_ != null)
      .collectFirst { case e: SparkException if e.getCondition != null => e }
      .getOrElse(fail("spark.read.parquet raised no error class", aborted))
    assert(got.getCondition == want.getCondition)
    assert(got.getMessageParameters == want.getMessageParameters)
    assert(got.getMessage == want.getMessage)
    assert(got.getCause.getMessage == want.getCause.getMessage)
    // under ignoreCorruptFiles both skip the file: nothing to infer from
    assert(condition(ParquetRead.read(spark, dir.toString,
      "ignoreCorruptFiles" -> "true")) == "UNABLE_TO_INFER_SCHEMA")
    assert(condition(spark.read.option("ignoreCorruptFiles", "true")
      .parquet(dir.toString)) == "UNABLE_TO_INFER_SCHEMA")
  }

  test("a file rewritten with a different schema reads with the new one") {
    val out = tmp("graft_pr_rewrite_").resolve("t").toString
    val nation = spark.read.parquet(s"$sf01/nation.parquet")
    nation.select("n_nationkey").write.parquet(out)
    assert(ParquetRead.read(spark, out).schema.fieldNames.toSeq ==
      Seq("n_nationkey"))
    nation.select(col("n_name"), col("n_nationkey").cast("string"))
      .write.mode("overwrite").parquet(out)
    assertParity(out)
    assert(ParquetRead.read(spark, out).schema.fieldNames.toSeq ==
      Seq("n_name", "n_nationkey"))
  }

  test("mergeSchema still merges every footer") {
    val out = tmp("graft_pr_merge_").resolve("t").toString
    val nation = spark.read.parquet(s"$sf01/nation.parquet")
    nation.select("n_nationkey").write.parquet(s"$out/b=1")
    nation.select("n_nationkey", "n_name").write.parquet(s"$out/b=2")
    val got = ParquetRead.read(spark, out, "mergeSchema" -> "true")
    val want = spark.read.option("mergeSchema", "true").parquet(out)
    assert(got.schema == want.schema)
    assert(got.schema.fieldNames.toSet == Set("n_nationkey", "n_name", "b"))
    assert(rows(got) == rows(want))
  }
}
