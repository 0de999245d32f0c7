package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.queries.Scratch

/** Wave-20 properties the DuckDB oracle can't express. */
class Extras120Spec extends SparkSpec {

  test("text_source_overlap: strict upper triangle, jaccard in (0, 1]") {
    val rows = queries.Extras120.textSourceOverlap(spark, sf).collect()
    assert(rows.nonEmpty, "shared-vocab corpus should overlap heavily")
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1), "not upper-triangular")
      assert(r.getDouble(2) > 0.0 && r.getDouble(2) <= 1.0)
    }
  }

  test("embed_norm_audit: every vector is L2-normalized (buckets hug 1.0)") {
    val rows = queries.Extras120.embedNormAudit(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum == Tables.embeddings(spark, sf).count())
    rows.foreach(r => assert(r.getLong(0) == 999L || r.getLong(0) == 1000L,
      s"non-normalized bucket ${r.getLong(0)} (nsq range ${r.getDouble(2)}..${r.getDouble(3)})"))
  }

  test("pipeline_dup_weighting: identity on a dup-free corpus, discount with planted dups") {
    val clean = queries.Extras120.pipelineDupWeighting(spark, sf).collect()
    clean.foreach { r =>
      // all-unique corpus: k=1 everywhere, so the fixed-point fold is exact
      assert(r.getDouble(4) == r.getLong(3).toDouble,
        s"${r.getString(0)}: effective ${r.getDouble(4)} != raw ${r.getLong(3)} on unique corpus")
    }
    // planted: 3 copies of one 100-char doc + 1 unique 50-char doc
    val dir = Scratch.dir("graft_dupw_")
    val txt = ("tok " * 25).trim // 99 chars
    val rows = Seq(
      Row(1L, txt, "en", "s0", txt.length.toLong),
      Row(2L, txt, "en", "s0", txt.length.toLong),
      Row(3L, txt, "en", "s0", txt.length.toLong),
      Row(4L, "solo doc here", "en", "s0", 13L))
    val sch = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, sch)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val planted = queries.Extras120.pipelineDupWeighting(spark, dir).head()
    assert(planted.getLong(1) == 4 && planted.getLong(2) == 2)
    // effective = 3*99/3 + 13 = 112 exactly (vs raw 310)
    assert(planted.getDouble(4) == 112.0, s"effective ${planted.getDouble(4)} != 112.0")
  }

  test("win_anchored_vwap: at most 5 rows per month, all positive") {
    val rows = queries.Extras120.winAnchoredVwap(spark, sf).collect()
    rows.groupBy(_.get(0)).foreach { case (m, rs) =>
      assert(rs.length <= 5, s"month $m has ${rs.length} rows")
    }
    assert(rows.forall(_.getDouble(2) > 0.0))
  }
}
