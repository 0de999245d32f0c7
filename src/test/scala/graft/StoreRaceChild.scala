package graft

/** Forked-JVM worker for [[StoreMultiProcessSpec]]: a SEPARATE OS
  * process (its own SparkSession, its own DatasetStore instance, no
  * shared JVM locks) that interleaves `appendAtomic` onto main and
  * `appendBranch` onto a shared branch against one store directory.
  * Exercises exactly the deployment the store's link(2)-CAS protocol
  * claims to survive — the claim the in-JVM 8-writer race spec could
  * not test.
  */
object StoreRaceChild {
  def main(args: Array[String]): Unit = {
    val Array(storeDir, writerIdS, nS) = args.take(3)
    val writerId = writerIdS.toLong
    val n = nS.toInt
    val spark = GraftSession.local("2", "ERROR")
    import spark.implicits._
    val store = new graft.sources.DatasetStore(spark, storeDir, "k")
    var i = 0
    while (i < n) {
      store.appendAtomic(
        Seq((writerId * 1000 + i, s"w$writerId", "main")).toDF("k", "writer", "side"))
      store.appendBranch("race",
        Seq((writerId * 1000 + 500 + i, s"w$writerId", "branch")).toDF("k", "writer", "side"))
      i += 1
    }
    spark.stop()
    // Spark leaves non-daemon threads behind; exit explicitly so the
    // parent's waitFor() sees completion promptly
    sys.exit(0)
  }
}
