package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Round-14 measurement tool (guide §1/§7): runs named registry queries
  * once (warm session) and prints every Spark job's wall time with its
  * first-stage name — the evidence for WHERE a multi-second query
  * spends its time (how many sequential jobs, which ones dominate).
  *
  * Usage: graft.ProfileRun <sfDir> name1,name2,...
  */
object ProfileRun {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, namesCsv) = args.take(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus, logLevel = "ERROR")
    // warm like the bench
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(10).count()

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        val site = j.stageInfos.lastOption.map(_.name).getOrElse("?")
        jobs.put(j.jobId, (System.nanoTime(), s"$site | $desc"))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(jobs.remove(j.jobId)).foreach { case (t0, site) =>
          done.add((j.jobId, System.nanoTime() - t0, site))
        }
      }
    })
    val registry = SparkEntry.queries
    namesCsv.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      registry.get(name).foreach { fn =>
        done.clear()
        System.gc()
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch {
          case t: Throwable => println(s"ERROR $name: ${t.getMessage}")
        }
        val total = (System.nanoTime() - t0) / 1e9
        Thread.sleep(200) // let listener events drain
        println(f"== $name: $total%.2f s, ${done.size} jobs")
        import scala.jdk.CollectionConverters._
        done.asScala.toSeq.sortBy(_._1).foreach { case (id, ns, site) =>
          println(f"   job $id%3d ${ns / 1e9}%6.3f s  ${site.take(110)}")
        }
      }
    }
    spark.stop()
  }
}
