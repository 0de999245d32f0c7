package graft

/** Forked-JVM worker for [[ScratchLeakSpec]]: runs registry rows that
  * stage scratch data (CSV and parquet round trips, a store-backed
  * stream, a stateful stream, a shingle stage, bucketed tables), reads
  * every result, then exits. The parent points `java.io.tmpdir` at a
  * fresh dir and checks what the exit leaves there.
  */
object ScratchLeakChild {

  val Queries: Seq[String] = Seq("scan_csv_roundtrip", "sink_parquet_roundtrip",
    "stream_foreachbatch_upsert", "stream_tumbling_count", "dedup_containment",
    "join_bucketed_colocated")

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("2", logLevel = "ERROR")
    Queries.foreach(q => println(s"$q ${SparkEntry.queries(q)(spark, args(0)).collect().length} rows"))
    spark.stop()
    // Spark leaves non-daemon threads behind; exit explicitly (exit
    // runs the shutdown hooks) so the parent's waitFor() returns
    sys.exit(0)
  }
}
