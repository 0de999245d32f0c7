package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared one-per-JVM SparkSession for all suites (session startup is
  * ~5 s; suites must not each pay it).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val baseDir: String = sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata")
  val sf: String = s"$baseDir/sf0.001"
  /** Larger fixture for recall-at-scale tests; None when absent, so
    * those tests cancel instead of failing on machines without it. */
  val sf01: Option[String] =
    Some(s"$baseDir/sf0.1").filter(p => new java.io.File(p).isDirectory)
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = TestSpark.sf
  def sf01: Option[String] = TestSpark.sf01

  /** Runs `body` once under Spark's default streaming checkpoint file
    * manager and once under the engine's fork-free one
    * ([[graft.sources.LocalCheckpointFileManager]]), passing a label
    * for failure messages. */
  def underEachCheckpointManager(body: String => Unit): Unit = {
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    Seq("default manager" -> None,
      "fork-free manager" -> Some(classOf[graft.sources.LocalCheckpointFileManager].getName))
      .foreach { case (label, manager) =>
        val prev = spark.conf.getOption(key)
        try {
          manager.fold(spark.conf.unset(key))(spark.conf.set(key, _))
          body(label)
        } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      }
  }
}
