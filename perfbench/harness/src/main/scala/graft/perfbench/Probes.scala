package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.functions._
import graft.plans.{GraftTextSearch, GraftTokenPrefix}

/** Counts of the executed plan's operators that the layer metrics name. */
object PlanShape extends AdaptiveSparkPlanHelper {
  private def isKernel(e: Expression): Boolean = Kernels.classes.contains(e.getClass)

  def apply(plan: SparkPlan): Map[String, Double] = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    Map(
      "plan.exchanges" -> nodes.count(_.isInstanceOf[Exchange]).toDouble,
      "plan.hash_aggregates" -> nodes.count(_.isInstanceOf[HashAggregateExec]).toDouble,
      "plan.bnlj" -> nodes.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]).toDouble,
      "plan.graft_kernels" ->
        nodes.map(_.expressions.map(_.collect { case e if isKernel(e) => 1 }.size).sum).sum.toDouble)
  }
}

/** The 12 named `graft_*` kernels, each applied to a column of the
  * synthetic frame that [[Kernels.frame]] builds.
  */
object Kernels {
  private def k(e: Expression): Column = Bridge.column(e)
  private def x(c: String): Expression = Bridge.expression(col(c))

  val all: Seq[(String, () => Column)] = Seq(
    "graft_text_search" -> (() => k(GraftTextSearch(x("text"), Literal("merge join")))),
    "graft_token_prefix" -> (() => k(GraftTokenPrefix(x("text"), Literal("sc")))),
    "graft_vec_dot" -> (() => k(FloatVecDot(x("embedding"), x("embedding2")))),
    "graft_qsqdist" -> (() => k(QuantSqDist(x("qvec"), x("qvec2")))),
    "graft_simhash64" -> (() => k(SimHash64(x("tokens")))),
    "graft_minhash16" -> (() => k(MinHash16(x("tokens")))),
    "graft_tokenhash64" -> (() => k(TokenHash64(x("text")))),
    "graft_shingle3" -> (() => k(ShingleHash3(x("text")))),
    "graft_simhash_sig" -> (() => k(SimHashSig(x("text")))),
    "graft_zorder2" -> (() => k(ZOrder2(x("zx"), x("zy")))),
    "graft_cdc_cuts" -> (() => k(CdcCuts(x("text")))),
    "graft_bbit_minhash16" -> (() => k(MinHashMd5x16(x("text")))))

  val classes: Set[Class[_]] = Set(
    classOf[GraftTextSearch], classOf[GraftTokenPrefix], classOf[FloatVecDot],
    classOf[QuantSqDist], classOf[SimHash64], classOf[MinHash16], classOf[TokenHash64],
    classOf[ShingleHash3], classOf[SimHashSig], classOf[ZOrder2], classOf[CdcCuts],
    classOf[MinHashMd5x16])

  /** `copies` x the documents/embeddings join: text, float vectors,
    * quantized vectors, token-hash arrays and two bigint coordinates.
    */
  def frame(spark: SparkSession, sfDir: String, copies: Int): DataFrame = {
    val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    docs.join(emb, "doc_id")
      .crossJoin(spark.range(copies).withColumnRenamed("id", "copy"))
      .select(
        col("text"),
        col("embedding"),
        reverse(col("embedding")).as("embedding2"),
        transform(col("embedding"), v => (v * 1000).cast("bigint")).as("qvec"),
        transform(reverse(col("embedding")), v => (v * 1000).cast("bigint")).as("qvec2"),
        transform(split(col("text"), " "), t => xxhash64(t)).as("tokens"),
        ((col("doc_id") * 7 + col("copy")) % 1024).as("zx"),
        ((col("doc_id") * 13 + col("copy")) % 1024).as("zy"))
  }

  /** Rows per second of `select(kernel)` into the no-op sink, best of
    * `reps`, with whole-stage and expression codegen on, then off.
    */
  def measure(spark: SparkSession, sfDir: String, copies: Int, reps: Int): Map[String, Double] = {
    val f = frame(spark, sfDir, copies).cache()
    val n = f.count().toDouble
    val conf = spark.conf
    def run(suffix: String): Seq[(String, Double)] = all.map { case (name, kernel) =>
      val best = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        f.select(kernel().as("k")).write.format("noop").mode("overwrite").save()
        System.nanoTime() - t0
      }.min
      s"functions.kernel.$name.rows_per_s$suffix" -> n / (best / 1e9)
    }
    try {
      val codegen = run("")
      conf.set("spark.sql.codegen.wholeStage", "false")
      conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interp = run("_interp")
      (codegen ++ interp).toMap
    } finally {
      conf.unset("spark.sql.codegen.wholeStage")
      conf.unset("spark.sql.codegen.factoryMode")
      f.unpersist(blocking = true)
    }
  }
}
