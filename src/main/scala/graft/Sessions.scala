package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every graft main and the spec suite build
  * their Spark session here, so the session decisions live in one
  * place.
  */
object Sessions {

  /** Cores a session runs on: `SPARK_GRAFT_CPUS`, else this machine's
    * available processors.
    */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A fresh, empty warehouse directory. A new session starts with an
    * empty in-memory catalog, so a managed table's data directory left
    * by a previous JVM in a reused warehouse fails `saveAsTable` with
    * LOCATION_ALREADY_EXISTS.
    */
  private def freshWarehouse(): String =
    java.nio.file.Files.createTempDirectory("graft_wh").toString

  /** A local session on `cpus` cores with one shuffle partition per
    * core, the UTC session time zone, graft's SQL functions
    * ([[GraftExtensions]]), the UI off and log level ERROR: `Bench`'s
    * contract line is parsed from the process tail, and a stray WARN
    * near it broke that parse.
    *
    * `nanosAsLong` is on because `events.parquet` stores
    * TIMESTAMP(NANOS), which Spark reads only as longs
    * ([[Tables.events]] converts them to microseconds).
    */
  def local(cpus: Int = defaultCpus, warehouse: String = freshWarehouse()): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
