package graft

import org.apache.spark.sql.functions._
import graft.queries.Scratch

/** Wave-18 properties the DuckDB oracle can't express. */
class Extras118Spec extends SparkSpec {

  test("sample_group_split: no source straddles the split boundary") {
    import org.apache.spark.sql.DataFrame
    // the graded row aggregates; re-derive the per-doc split and assert
    // group purity — the leakage property the operator exists for
    val perDoc = Tables.documents(spark, sf)
      .withColumn("u",
        conv(substring(md5(col("source")), 1, 6), 16, 10)
          .cast("double") / lit(16777216.0))
      .withColumn("split", when(col("u") < 0.8, "train").otherwise("holdout"))
    val straddlers = perDoc.groupBy("source")
      .agg(countDistinct("split").as("k")).filter(col("k") > 1).count()
    assert(straddlers == 0, s"$straddlers sources appear in both splits")
    val agg: DataFrame = queries.Extras118.sampleGroupSplit(spark, sf)
    assert(agg.agg(sum("n_docs")).head().getLong(0) ==
      Tables.documents(spark, sf).count(), "split loses/duplicates docs")
  }

  test("sim_topk_margin: margins non-negative and best == brute-force top1") {
    val m = queries.Extras118.simTopkMargin(spark, sf).collect()
    assert(m.length == 10)
    assert(m.forall(_.getDouble(3) >= 0.0), "negative margin")
    val top1 = queries.LlmOps.simTopkCosine(spark, sf).filter(col("rn") === 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    m.foreach(r => assert(r.getDouble(1) == top1(r.getLong(0)),
      s"probe ${r.getLong(0)}: best_sim != B42 top-1"))
  }

  test("win_rolling_corr: NULL before 7-day history, values in [-1, 1]") {
    val rows = queries.Extras118.winRollingCorr(spark, sf).collect()
    assert(rows.take(6).forall(_.isNullAt(3)), "short-history rows not NULL")
    rows.drop(6).filterNot(_.isNullAt(3)).foreach { r =>
      val c = r.getDouble(3)
      assert(c >= -1.0 && c <= 1.0, s"corr $c outside [-1,1] on ${r.get(0)}")
    }
  }

  test("ref_integrity_orphans: detects planted orphans of every kind") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.SaveMode
    // copy the fixture, plant one orphan of each kind, re-run the audit
    val dir = Scratch.dir("graft_orph_")
    Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings").foreach { t =>
      Files.copy(Paths.get(s"$sf/$t.parquet"), Paths.get(dir, s"$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val base = queries.Extras118.refIntegrityOrphans(spark, sf).head()
    assert(base.getLong(0) == 0 && base.getLong(1) == 0 && base.getLong(2) == 0,
      s"generator fixture should be referentially clean, got ${base.mkString(",")}")
    // plant one orphan order (unknown customer AND fresh orderkey) and
    // one orphan event (unknown user); write in the single-file layout
    def plantSingleFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$dir/${name}_new"
      df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
      val part = Files.list(Paths.get(tmp))
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, Paths.get(dir, s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    val o = Tables.orders(spark, sf).limit(1)
      .withColumn("o_custkey", lit(999999999L))
      .withColumn("o_orderkey", lit(999999999L))
    plantSingleFile(Tables.orders(spark, sf).unionByName(o), "orders")
    val e = Tables.events(spark, sf).limit(1).withColumn("user_id", lit(999999999L))
    plantSingleFile(Tables.events(spark, sf).unionByName(e), "events")
    val planted = queries.Extras118.refIntegrityOrphans(spark, dir).head()
    assert(planted.getLong(0) == 1, "planted orphan order missed")
    assert(planted.getLong(2) == 1, "planted orphan event missed")
  }

  test("ref_climatology_zscore: outliers bounded and z range sane") {
    val rows = queries.Extras118.refClimatologyZscore(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2), "more outliers than rows")
      assert(r.getDouble(4) <= r.getDouble(5), "min_z > max_z")
    }
  }

  test("dedup_band_width_sweep: 4x16 banding is lossless for hamming<=3 (pigeonhole)") {
    val rows = queries.Extras118.dedupBandWidthSweep(spark, sf).collect()
      .map(r => r.getLong(1) -> r).toMap
    val w16 = rows(16L)
    assert(w16.getLong(4) == w16.getLong(3),
      s"4x16 missed true pairs: caught=${w16.getLong(4)} true=${w16.getLong(3)}")
    // wider-band configs can only shed candidates as width grows
    assert(rows(4L).getLong(2) >= rows(8L).getLong(2),
      "4-bit bands must generate at least as many candidates as 8-bit")
    assert(rows(8L).getLong(2) >= rows(16L).getLong(2),
      "8-bit bands must generate at least as many candidates as 16-bit")
  }
}
