package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.queries.Scratch

/** Wave-28 properties the DuckDB oracle can't express. */
class Extras128Spec extends SparkSpec {

  test("pipeline_dedup_survivorship: identity on a dup-free corpus, picks longest-then-lowest on planted dups") {
    val clean = queries.Extras128.pipelineDedupSurvivorship(spark, sf).collect()
    clean.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"${r.getString(0)}: clusters != docs on unique corpus")
      assert(r.getLong(3) == 0L)
    }
    // planted: 2 copies of one text (ids 10, 11) + a longer unique doc
    val dir = Scratch.dir("graft_surv_")
    val rows = Seq(
      Row(10L, "dup text here", "en", "s0", 13L),
      Row(11L, "dup text here", "en", "s0", 13L),
      Row(12L, "a longer unique document text", "en", "s0", 29L))
    val sch = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, sch)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val planted = queries.Extras128.pipelineDedupSurvivorship(spark, dir).head()
    assert(planted.getLong(1) == 3 && planted.getLong(2) == 2 && planted.getLong(3) == 1)
    // golden of the dup cluster must be doc 10 (lowest id); id sum = 10 + 12
    assert(planted.getLong(6) == 22L, s"golden ids sum ${planted.getLong(6)} != 22")
  }

  test("analytics_cart_abandonment: rate in [0,1], abandoned <= clickers") {
    val rows = queries.Extras128.analyticsCartAbandonment(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
  }

  test("stat_wilcoxon_signed_rank: W+ bounded by n(n+1)/2, z finite") {
    val r = queries.Extras128.statWilcoxonSignedRank(spark, sf).head()
    val n = r.getLong(0)
    assert(n > 0)
    assert(r.getLong(1) >= 0 && r.getLong(1) <= n * (n + 1) / 2)
    assert(!r.getDouble(2).isNaN)
  }

  test("embed_dim_variance: 64 dims, variance non-negative, means bounded by unit norm") {
    val rows = queries.Extras128.embedDimVariance(spark, sf).collect()
    assert(rows.length == 64)
    rows.foreach { r =>
      assert(r.getDouble(2) >= 0.0, s"dim ${r.getLong(0)}: negative variance")
      assert(math.abs(r.getDouble(1)) <= 1.0)
    }
    // L2-normalized vectors: sum over dims of (var + mean^2) == mean squared norm == 1
    val total = rows.map(r => r.getDouble(2) + r.getDouble(1) * r.getDouble(1)).sum
    assert(math.abs(total - 1.0) < 1e-3, s"Σ(var+mean²) = $total, expected ≈ 1")
  }
}
