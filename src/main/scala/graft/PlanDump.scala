package graft

/** Round-14 measurement tool (guide §1.3/§7.2): writes
  * `.explain("formatted")` of named registry queries to
  * `<outDir>/<name>_<tag>.txt` so before/after plan shapes are
  * reviewable without running Spark.
  *
  * Usage: graft.PlanDump <sfDir> <outDir> <tag> name1,name2,...
  * (tag is "before" / "after"). Plans are captured from the SAME
  * session config the bench uses (shuffle.partitions = cpus, UTC).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag, namesCsv) = args.take(4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus, logLevel = "ERROR")
    val registry = SparkEntry.queries
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    namesCsv.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      registry.get(name) match {
        case Some(fn) =>
          val plan = try {
            val df = fn(spark, sfDir)
            df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
          } catch { case t: Throwable => s"PLAN_ERROR: ${t.getMessage}" }
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"),
            plan.getBytes("UTF-8"))
          println(s"PLANDUMP: $name -> $outDir/${name}_$tag.txt")
        case None => System.err.println(s"PLANDUMP_ERROR: unknown query $name")
      }
    }
    spark.stop()
  }
}
