package graft

import org.apache.spark.sql.SparkSession

/** The one local session builder: every main and the test suites start
  * their session here. `local[cores]` with as many shuffle partitions,
  * UTC session time, ns-precision parquet timestamps read as Long (see
  * Tables.events), AQE on, no UI, a per-process temp warehouse (for
  * `saveAsTable`) and WARN logging. Built with `getOrCreate`, so a
  * second call in the same JVM returns the first session. */
object LocalSpark {

  /** `SPARK_GRAFT_CPUS`, else 4. */
  private def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  private lazy val warehouse =
    java.nio.file.Files.createTempDirectory("graft_wh_").toString

  def apply(cores: Int = defaultCores): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
