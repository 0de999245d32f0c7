package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Queries run on a fixed thread pool (SPARK_GRAFT_VERIFY_PAR, default
  * 8): Spark schedules concurrent jobs on one context fine, and most
  * registry rows are small sf0.01 plans that leave the 32 task slots
  * mostly idle when run one-at-a-time — sequential Verify crossed the
  * driver's round time cap once the registry passed ~1000 rows (r12's
  * CORRECTNESS came back empty). Each task gets its own
  * `spark.newSession()`: isolated SQLConf (a handful of exhibits
  * set/restore AQE or broadcast confs mid-query) and isolated
  * `experimental` rule/strategy registration, with the shared
  * SparkContext and external catalog underneath. One known shared-state
  * exception: `exec_reliable_checkpoint` (Extras47) mutates the
  * context-global checkpoint dir via `setCheckpointDir` — benign today
  * because it is the sole `checkpoint()` user and sets a fresh
  * `graft_ckptdir_*` dir under the run's scratch root
  * (`queries.Scratch`, deleted at JVM exit) each call; a second
  * checkpoint-using query must coordinate (or take a lock) before this
  * becomes a race. Results are unchanged
  * vs sequential — every row is deterministic by the R1 total-order
  * discipline, and cloned sessions inherit the builder's conf.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg (local iteration only; the driver passes 2):
    // comma-separated query names to dump instead of all
    val only: Set[String] =
      if (args.length > 2) args(2).split(',').map(_.trim).toSet else Set.empty
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus)
    new java.io.File(outDir).mkdirs()
    // defensive parse: a malformed value ("8 ", "auto") must degrade to
    // the default, not NumberFormatException-abort the whole dump before
    // any query runs (the r12 zero-correctness failure class)
    val par = scala.util.Try(
      // defensive parse (r13 ADVICE): a malformed value must not abort
      // the whole correctness dump before any query runs
      scala.util.Try(sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "8").trim.toInt)
        .getOrElse(8).max(1)
    ).getOrElse(8).max(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        pool.execute { () =>
          val sess = spark.newSession()
          try fn(sess, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
        }
      }
    pool.shutdown()
    pool.awaitTermination(24, java.util.concurrent.TimeUnit.HOURS): Unit
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
