package graft

import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import org.apache.spark.sql.SparkSession

/** A registry slice returns the same rows when it runs again in the same
  * session (the second run hits the `Scratch.once` staging memos) and
  * when it runs all at once on an 8-thread pool, each query on its own
  * `spark.newSession()` as `Verify` does. The slice holds one consumer
  * per `Bench.stageDefs` stage, the GlobalRank rows `win_ntile_pct` and
  * `page_offset_limit`, the eagerly pinned `dedup_bbit_minhash` and a
  * stream. Rows compare as sorted `Row.toString`s.
  */
class RegistryRerunSpec extends SparkSpec {

  private val slice = Seq(
    "dedup_containment", "dedup_ngram_jaccard", "dedup_cluster_cc",
    "sim_index_probe", "graph_label_propagation", "graph_adamic_adar",
    "win_ntile_pct", "page_offset_limit", "dedup_bbit_minhash",
    "stream_tumbling_count")

  private def rows(s: SparkSession, name: String): Seq[String] =
    SparkEntry.queries(name)(s, sf).collect().map(_.toString).sorted.toSeq

  private lazy val first: Map[String, Seq[String]] =
    slice.map(n => n -> rows(spark, n)).toMap

  private def assertSame(run: String, other: Map[String, Seq[String]]): Unit =
    slice.foreach { n =>
      assert(first(n).nonEmpty, s"$n returned no rows")
      assert(other(n) == first(n),
        s"$n differs $run: only first ${first(n).diff(other(n)).take(3)}, " +
          s"only $run ${other(n).diff(first(n)).take(3)}")
    }

  test("a registry slice re-run in the same session returns the same rows") {
    Bench.stageDefs.foreach { case (stage, consumers, _) =>
      assert(consumers.exists(slice.contains), s"no consumer of stage $stage in the slice")
    }
    assertSame("on re-run", slice.map(n => n -> rows(spark, n)).toMap)
  }

  test("the slice run at once on 8 threads, one new session per query, returns the same rows") {
    val pool = Executors.newFixedThreadPool(8)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val runs = Future.sequence(slice.map(n => Future(n -> rows(spark.newSession(), n))))
      assertSame("concurrently", Await.result(runs, Duration.Inf).toMap)
    } finally pool.shutdown()
  }
}
