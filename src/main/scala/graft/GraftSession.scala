package graft

import org.apache.spark.sql.SparkSession

/** The one session factory of the mains and the test suites: a local
  * session with `cpus` task slots and as many shuffle partitions, UTC
  * session time zone and no UI, with the kernel table of
  * [[GraftExtensions]] registered.
  */
object GraftSession {
  def local(cpus: String, logLevel: String = "WARN",
      shufflePartitions: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.getOrElse(cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    GraftExtensions.register(spark)
    spark
  }
}
