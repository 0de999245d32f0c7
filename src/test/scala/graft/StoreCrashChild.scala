package graft

/** Forked-JVM CRASH WRITER for [[StoreCrashSpec]]: appends one row per
  * commit (k = 1, 2, 3, …) and compacts every third commit, forever,
  * printing `commit <k>` after each successful commit — until the
  * parent SIGKILLs it mid-flight. The kill can land anywhere in the
  * commit path (mid-parquet-write → truncated segment dir; between
  * segment write and manifest link → complete orphan segment; mid-prune)
  * — every one of those is a crash state the store's recovery contract
  * must absorb: committed snapshots stay exactly readable, partial
  * work stays invisible, the next vacuum reclaims it.
  */
object StoreCrashChild {
  def main(args: Array[String]): Unit = {
    val Array(storeDir) = args.take(1)
    val spark = GraftSession.local("2", "ERROR")
    import spark.implicits._
    val store = new graft.sources.DatasetStore(spark, storeDir, "k")
    var k = 1L
    while (true) { // runs until SIGKILL
      store.append(Seq((k, s"row$k")).toDF("k", "payload"))
      if (k % 3 == 0) store.compact()
      println(s"commit $k")
      System.out.flush()
      k += 1
    }
  }
}
