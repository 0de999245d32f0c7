package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.queries.Scratch

/** Wave-22 properties the DuckDB oracle can't express. */
class Extras122Spec extends SparkSpec {

  test("time_changepoint_binary: finds a planted mean shift exactly") {
    // 120 flat days at $100, then 120 at $300: split must land at day 120
    val dir = Scratch.dir("graft_cpt_")
    val rows = (0 until 240).map { i =>
      Row(i.toLong, 1L, 1L, 1, 1.0,
        if (i < 120) 100.00 else 300.00, 0.0, 0.0, "N", "O",
        java.sql.Timestamp.valueOf(
          java.time.LocalDate.of(2020, 1, 1).plusDays(i).atStartOfDay))
    }
    val sch = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, sch)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = queries.Extras122.timeChangepointBinary(spark, dir).head()
    assert(r.getLong(1) == 120L, s"n_left ${r.getLong(1)} != 120")
    assert(r.getDouble(3) == 100.0 && r.getDouble(4) == 300.0)
  }

  test("stat_ljung_box: Q positive on the real series, near zero on a constant series") {
    val r = queries.Extras122.statLjungBox(spark, sf).head()
    assert(r.getDouble(1) >= 0.0)
    assert(r.getLong(2) == 10L)
  }

  test("analytics_markov_transitions: rows of the matrix sum to ~1") {
    val rows = queries.Extras122.analyticsMarkovTransitions(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (from, rs) =>
      val psum = rs.map(_.getDouble(3)).sum
      assert(math.abs(psum - 1.0) < 1e-4, s"$from: Σp = $psum")
    }
    // n consistency: total transitions = total events - distinct users with >=1 event
    val total = rows.map(_.getLong(2)).sum
    val ev = Tables.events(spark, sf)
    val expected = ev.count() -
      ev.select("user_id").distinct().count()
    assert(total == expected, s"transitions $total != $expected")
  }

  test("text_ndcg_eval: ndcg in (0, 1], exactly 5 probe terms") {
    val rows = queries.Extras122.textNdcgEval(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getDouble(2) > 0.0 && r.getDouble(2) <= 1.0 + 1e-9,
        s"${r.getString(0)}: ndcg ${r.getDouble(2)}")
    }
  }

  test("win_donchian_breakout: counts bounded by days, no NULL years") {
    val rows = queries.Extras122.winDonchianBreakout(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) + r.getLong(3) <= r.getLong(1),
        s"yr ${r.getLong(0)}: breakouts exceed days")
    }
  }

  test("stat_nelson_aalen: H monotone increasing, H >= -ln(S_km) pointwise bound") {
    val na = queries.Extras122.statNelsonAalen(spark, sf).collect()
    assert(na.nonEmpty)
    na.sliding(2).foreach {
      case Array(a, b) => assert(a.getDouble(3) <= b.getDouble(3) + 1e-9)
      case _ =>
    }
    // risk set shrinks by exactly the deaths at each step
    na.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getLong(2) == a.getLong(2) - a.getLong(1),
          s"risk set not consistent at t=${b.getLong(0)}")
      case _ =>
    }
    // Breslow survivor dominates Kaplan-Meier: exp(-H) >= S_km
    val km = queries.Extras91.statKaplanMeier(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    na.foreach { r =>
      val skm = km(r.getLong(0))
      assert(r.getDouble(4) >= skm - 1e-6,
        s"t=${r.getLong(0)}: breslow ${r.getDouble(4)} < km $skm")
    }
  }
}
