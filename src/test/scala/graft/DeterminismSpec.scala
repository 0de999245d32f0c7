package graft

/** The oracle harness hashes results exactly, so every query must be
  * bit-stable across runs (shuffle task order, partial-agg merge order
  * and window evaluation must not leak into values). Run the queries
  * most exposed to float/merge-order hazards twice and require
  * identical collected output.
  */
class DeterminismSpec extends SparkSpec {

  private val exposed = Seq(
    "agg_hash_groupby",     // decimal-pattern sums across 4 shuffle partitions
    "udaf_geomean",         // fixed-point log accumulation, merge order free
    "win_running_sum",      // windowed decimal running sums
    "win_sliding_avg",      // sliding frames over decimal dailies
    "sim_topk_cosine",      // float dot products + rank ties
    "dedup_ngram_jaccard",  // set-similarity join + int-ratio division
    "json_funcs",           // dsum over extracted groups
    "text_langid_confusion", // fixed-point argmax over join order
    "agg_linear_regression", // closed-form OLS from exact moment sums
    "agg_skew_kurtosis",    // 3rd/4th moments from exact integer power sums
    "embed_centroid_exact", // fixed-point float centroids
    "interp_time_linear",   // per-row IEEE interpolation from window state
    "sim_knn_join",         // n² float dots + argmax aggregation ranking
    "agg_minby_maxby"       // unique-composite-key arg-min/max
  )

  exposed.foreach { name =>
    test(s"$name is bit-stable across runs") {
      val fn = SparkEntry.queries(name)
      val a = fn(spark, sf).collect().map(_.toString).toSeq
      val b = fn(spark, sf).collect().map(_.toString).toSeq
      assert(a == b, s"$name differs between two runs")
    }
  }

  test("property: GlobalRank rank + prefix-sum match the single-partition window exactly") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // adversarial input: duplicate sort-key values (only the composite
    // (k, id) order is total), skewed weights, many partitions vs rows
    val gen = Gen.listOfN(500, Gen.zip(Gen.chooseNum(0L, 40L), Gen.chooseNum(0L, 1000L)))
    val rows = gen.pureApply(Gen.Parameters.default, Seed(13L))
      .zipWithIndex.map { case ((k, w), i) => (i.toLong, k, w) }
    val df = rows.toDF("id", "k", "w")
    val sortExprs = Seq(col("k").asc, col("id").asc)
    val viaRank = graft.plans.GlobalRank
      .withGlobalRowNumber(df, "rn", sortExprs, partitions = 7)
      .select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaSum = graft.plans.GlobalRank
      .withExclusivePrefixSum(df, "ps", col("w"), sortExprs, partitions = 7)
      .select("id", "ps").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = Window.orderBy(sortExprs: _*)
    val oracle = df
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("ps", coalesce(sum(col("w")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("id", "rn", "ps").collect()
    oracle.foreach { r =>
      val id = r.getLong(0)
      assert(viaRank(id) == r.getLong(1), s"rank mismatch for id=$id")
      assert(viaSum(id) == r.getLong(2), s"prefix-sum mismatch for id=$id")
    }
  }

  test("GlobalRank prefix-sum preserves DECIMAL inputs (no long truncation)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // sub-integer decimals: a forced long cast (the r7 ADVICE bug)
    // would collapse every prefix sum below 1.00 to 0
    val df = (1L to 40L).map(i => (i, BigDecimal(i) / 100))
      .toDF("id", "v")
      .withColumn("v", col("v").cast("decimal(10,2)"))
    val sortExprs = Seq(col("id").asc)
    val got = graft.plans.GlobalRank
      .withExclusivePrefixSum(df, "ps", col("v"), sortExprs, partitions = 5)
    // type parity with the window formulation: sum(decimal(10,2)) widens
    assert(got.schema("ps").dataType.typeName.startsWith("decimal"),
      s"prefix-sum type collapsed to ${got.schema("ps").dataType}")
    val w = Window.orderBy(sortExprs: _*).rowsBetween(Window.unboundedPreceding, -1)
    val oracle = df
      .withColumn("ps", coalesce(sum(col("v")).over(w), lit(BigDecimal(0))))
      .select("id", "ps").collect()
      .map(r => r.getLong(0) -> r.getDecimal(1).stripTrailingZeros).toMap
    got.select("id", "ps").collect().foreach { r =>
      assert(r.getDecimal(1).stripTrailingZeros == oracle(r.getLong(0)),
        s"decimal prefix-sum mismatch for id=${r.getLong(0)}")
    }
    // and long inputs still come back as longs (no behavior change)
    val longDf = (1L to 10L).map(i => (i, i * 10)).toDF("id", "w")
    val gotLong = graft.plans.GlobalRank
      .withExclusivePrefixSum(longDf, "ps", col("w"), Seq(col("id").asc), partitions = 3)
    assert(gotLong.schema("ps").dataType.typeName == "long")
  }

  test("property: zorder2 interleave is a bijection on 10-bit pairs (codegen == reference)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    GraftExtensions.register(spark)
    // reference deinterleave: even output bits reassemble x, odd bits y
    def deinterleave(z: Long): (Long, Long) = {
      var x = 0L; var y = 0L
      (0 until 10).foreach { i =>
        x |= ((z >>> (2 * i)) & 1L) << i
        y |= ((z >>> (2 * i + 1)) & 1L) << i
      }
      (x, y)
    }
    val gen = Gen.listOfN(200, Gen.zip(Gen.chooseNum(0L, 1023L), Gen.chooseNum(0L, 1023L)))
    val pairs = gen.pureApply(Gen.Parameters.default, Seed(7L))
    val got = pairs.toDF("x", "y")
      .selectExpr("x", "y", "graft_zorder2(x, y) AS z")
      .collect()
    got.foreach { r =>
      val (x, y, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(deinterleave(z) == ((x, y)), s"zorder2($x, $y) = $z does not round-trip")
      assert(z >= 0 && z < (1L << 20), s"zorder2 out of 20-bit range: $z")
    }
  }

  test("property: dsum over random 2-decimal doubles == exact rational sum") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    val gen = Gen.listOfN(300, Gen.chooseNum(-999999L, 999999L).map(_ / 100.0))
    (0 until 10).foreach { i =>
      val xs = gen.pureApply(Gen.Parameters.default, Seed(i.toLong))
      // exact rational sum in cents, converted once to double
      val expected = (BigDecimal(xs.map(x => math.round(x * 100)).sum) / 100).toDouble
      val got = xs.toDF("x")
        .repartition(7) // force a multi-partition partial/final merge
        .agg(Tables.dsum(org.apache.spark.sql.functions.col("x")))
        .head().getDouble(0)
      assert(got == expected, s"seed $i: dsum=$got exact=$expected")
    }
  }
}
