package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Wave 64 (C660–C663): generalized ESD outliers, Watson's U²,
  * magic-byte sniffing, Kelly fraction.
  */
object Extras164 {

  /** C660 stat_generalized_esd — Rosner's generalized ESD (iterated
    * Grubbs) on daily revenue, k = 5 rounds: each round recomputes the
    * cleared exact moments and the |deviation| argmax on the REMAINING
    * bounded daily frame (5 fixed supersteps, two 1-row collects each —
    * the BFS driver-loop discipline), flags R_k > 3.5 (fixed normal-
    * approx critical, documented). The output is the 5-round audit
    * trail; removal continues past non-flagged rounds (Rosner's rule).
    */
  def statGeneralizedEsd(s: SparkSession, d: String): DataFrame = {
    val bars = lineitem(s, d)
      .groupBy(date_trunc("day", col("l_shipdate")).as("day"))
      .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)"))
        .cast("long").as("c"))
      .localCheckpoint(true)
    var remaining = bars
    val out = scala.collection.mutable.ArrayBuffer[(Long, java.sql.Timestamp, Double, Boolean)]()
    for (k <- 1 to 5) {
      val m = remaining.agg(count(lit(1)).cast("decimal(38,0)").as("n"),
          sum(col("c")).cast("decimal(38,0)").as("sc"),
          sum(expr("CAST(c AS DECIMAL(38,0)) * c")).cast("decimal(38,0)").as("qc"))
        .selectExpr("CAST(n AS BIGINT) AS n",
          "CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) AS mu",
          "sqrt(CAST(n * qc - sc * sc AS DOUBLE) / CAST(n * n AS DOUBLE)) AS sigma")
        .collect().head
      val (mu, sigma) = (m.getDouble(1), m.getDouble(2))
      val worst = remaining
        .withColumn("dev", abs(col("c") - lit(mu)))
        .agg(max(struct(col("dev"), col("day"))).as("m"))
        .selectExpr("m.day AS day", "m.dev AS dev")
        .collect().head
      val r = worst.getDouble(1) / sigma
      out += ((k.toLong, worst.getTimestamp(0), r, r > 3.5))
      remaining = remaining.filter(col("day") =!= lit(worst.getTimestamp(0)))
        .localCheckpoint(true)
    }
    val ss = bars.sparkSession
    // DATE output (not timestamp): a driver-built TimestampType column
    // would write tz-aware parquet and mismatch DuckDB's naive values
    ss.createDataFrame(out.toSeq).toDF("k", "removed_day", "r_stat", "flagged")
      .selectExpr("k", "date_format(removed_day, 'yyyy-MM-dd') AS removed_day",
        "round(r_stat, 4) AS r_stat", "flagged")
      .orderBy("k")
  }
  val statGeneralizedEsdSql: String = {
    def iter(k: Int): String = {
      val prev = if (k == 1) "base" else s"rem${k - 1}"
      s"""m$k AS (
         |  SELECT CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
         |    sqrt(CAST(n * qc - sc * sc AS DOUBLE) / CAST(n * n AS DOUBLE)) AS sigma
         |  FROM (SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
         |    CAST(sum(c) AS DECIMAL(38,0)) AS sc,
         |    CAST(sum(CAST(c AS DECIMAL(38,0)) * c) AS DECIMAL(38,0)) AS qc
         |  FROM $prev)),
         |p$k AS (
         |  SELECT (max(struct_pack(dev := abs(b.c - m.mu), day := b.day))).day AS day,
         |    (max(struct_pack(dev := abs(b.c - m.mu), day := b.day))).dev / max(m.sigma) AS r
         |  FROM $prev b, m$k m),
         |rem$k AS (SELECT b.* FROM $prev b, p$k WHERE b.day <> p$k.day)""".stripMargin
    }
    """WITH base AS (
      |  SELECT date_trunc('day', l_shipdate) AS day,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1),
      |""".stripMargin +
      (1 to 5).map(iter).mkString(",\n") +
      "\n" +
      (1 to 5).map(k =>
        s"""SELECT CAST($k AS BIGINT) AS k, strftime(day, '%Y-%m-%d') AS removed_day,
           |  round(r, 4) AS r_stat, r > 3.5 AS flagged FROM p$k""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY k")
  }

  /** C661 stat_watson_u2 — Watson's U² circular uniformity test on
    * order day-of-year (the omnibus companion to the Rayleigh row —
    * catches multimodal departures a mean direction misses): circular
    * positions u = (2·doy−1)/732 are exact rationals, the rank-
    * dependent pieces collapse to the BOUNDED distinct-doy frame via
    * Σ(2i−1) = b²−(a−1)² and Σ(2i−1)² = f(b)−f(a−1) with f(m) =
    * m(2m−1)(2m+1)/3 (exact prefix counts), per-group terms micro-
    * quantized so the sum is exact; U² with its n(ū−½)² correction.
    */
  def statWatsonU2(s: SparkSession, d: String): DataFrame = {
    val byD = orders(s, d)
      .groupBy(dayofyear(col("o_orderdate")).as("doy"))
      .agg(count(lit(1)).cast("long").as("w"))
    val wp = Window.orderBy("doy").rowsBetween(Window.unboundedPreceding, 0)
    val tot = byD.agg(sum(col("w")).cast("long").as("n"),
      sum(expr("w * (2 * doy - 1)")).cast("decimal(38,0)").as("su732"))
    byD
      .withColumn("cl", sum(col("w")).over(wp))
      .crossJoin(broadcast(tot))
      .withColumn("u", expr("CAST(2 * doy - 1 AS DOUBLE) / 732"))
      // sum over rows i in (a..b]: (u - (2i-1)/(2n))^2
      //   = w*u^2 - (u/n)*(b^2-(a-1)^2) + (1/(4n^2))*(f(b)-f(a-1))
      .withColumn("s1", expr(
        "CAST(cl AS DECIMAL(38,0)) * cl - CAST(cl - w AS DECIMAL(38,0)) * (cl - w)"))
      .withColumn("s2", expr(
        """(CAST(cl AS DECIMAL(38,0)) * (2 * cl - 1) * (2 * cl + 1)
          | - CAST(cl - w AS DECIMAL(38,0)) * (2 * (cl - w) - 1) * (2 * (cl - w) + 1))""".stripMargin))
      .withColumn("term_q", expr(
        """CAST(floor((w * u * u - u / n * CAST(s1 AS DOUBLE)
          |  + CAST(s2 AS DOUBLE) / 3 / (4.0 * n * n)) * 1e9 + 0.5) AS BIGINT)""".stripMargin))
      .agg(max(col("n")).as("n"),
        sum(col("term_q")).cast("long").as("tq"),
        max(expr("CAST(su732 AS DOUBLE) / 732 / n")).as("ubar"))
      .selectExpr("n",
        """round(CAST(tq AS DOUBLE) / 1e9 + 1.0 / (12 * n)
          |  - n * (ubar - 0.5) * (ubar - 0.5), 6) AS watson_u2""".stripMargin)
      .selectExpr("n", "watson_u2", "watson_u2 > 0.187 AS reject_uniform")
  }
  val statWatsonU2Sql: String =
    """WITH byd AS (
      |  SELECT dayofyear(o_orderdate) AS doy, CAST(count(*) AS BIGINT) AS w
      |  FROM orders GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(w) AS BIGINT) AS n,
      |    CAST(sum(w * (2 * doy - 1)) AS DECIMAL(38,0)) AS su732
      |  FROM byd),
      |pre AS (
      |  SELECT doy, w,
      |    CAST(sum(w) OVER (ORDER BY doy ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cl
      |  FROM byd),
      |q AS (
      |  SELECT w, cl, n, su732,
      |    CAST(2 * doy - 1 AS DOUBLE) / 732 AS u,
      |    CAST(cl AS DECIMAL(38,0)) * cl - CAST(cl - w AS DECIMAL(38,0)) * (cl - w) AS s1,
      |    (CAST(cl AS DECIMAL(38,0)) * (2 * cl - 1) * (2 * cl + 1)
      |     - CAST(cl - w AS DECIMAL(38,0)) * (2 * (cl - w) - 1) * (2 * (cl - w) + 1)) AS s2
      |  FROM pre, tot),
      |t AS (
      |  SELECT max(n) AS n,
      |    CAST(sum(CAST(floor((w * u * u - u / n * CAST(s1 AS DOUBLE)
      |      + CAST(s2 AS DOUBLE) / 3 / (4.0 * n * n)) * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS tq,
      |    max(CAST(su732 AS DOUBLE) / 732 / n) AS ubar
      |  FROM q)
      |SELECT n,
      |  round(CAST(tq AS DOUBLE) / 1e9 + 1.0 / (12 * n)
      |    - n * (ubar - 0.5) * (ubar - 0.5), 6) AS watson_u2,
      |  CAST(tq AS DOUBLE) / 1e9 + 1.0 / (12 * n)
      |    - n * (ubar - 0.5) * (ubar - 0.5) > 0.187 AS reject_uniform
      |FROM t""".stripMargin

  /** Per-doc sniffed container type through the real codecs. */
  case class Sniffed(doc_id: Long, lang: String, detected: String, payload_len: Long)

  /** C662 scan_magic_bytes — content-type sniffing on a heterogeneous
    * binary column: the corpus carries REAL PNG (even doc_id) and WAV
    * (odd) containers built by the CRC-checked codec; the classifier
    * reads ONLY the magic prefix (8 bytes — never decodes, never
    * shuffles the blob) inside the typed boundary. The oracle knows
    * the parity convention, so the census (type × lang × payload
    * bytes) is fully checkable.
    */
  def scanMagicBytes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sniffed = documents(s, d)
      .select(col("doc_id"), col("lang"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, lang, payload) =>
          val blob =
            if (id % 2 == 0) graft.sources.MediaCodec.encodePng(payload)
            else graft.sources.MediaCodec.encodeWav(payload)
          val detected =
            if (blob.length >= 8 &&
              (blob(0) & 0xff) == 0x89 && blob(1) == 'P' && blob(2) == 'N' &&
              blob(3) == 'G') "png"
            else if (blob.length >= 4 &&
              blob(0) == 'R' && blob(1) == 'I' && blob(2) == 'F' && blob(3) == 'F') "wav"
            else "unknown"
          Sniffed(id, lang, detected, payload.length.toLong)
        }
      }
      .toDF()
    sniffed.groupBy("detected", "lang")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("payload_len")).cast("long").as("payload_bytes"))
      .orderBy("detected", "lang")
  }
  val scanMagicBytesSql: String =
    """SELECT CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'wav' END AS detected,
      |  lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS payload_bytes
      |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** C663 win_kelly_fraction — the Kelly bet-sizing fraction from the
    * daily win/loss profile: simple returns ppm-quantized ONCE (exact
    * ints after), win probability and mean win/loss magnitudes from
    * exact sums over the bounded daily frame, f* = (p·b̄−q·ā)/(ā·b̄)
    * in final doubles.
    */
  def winKellyFraction(s: SparkSession, d: String): DataFrame = {
    val bars = lineitem(s, d)
      .groupBy(date_trunc("day", col("l_shipdate")).as("day"))
      .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)"))
        .cast("long").as("c"))
    val w = Window.orderBy("day")
    bars
      .withColumn("pc", lag(col("c"), 1).over(w))
      .filter(col("pc").isNotNull)
      .withColumn("rq", expr(
        "CAST(floor((CAST(c AS DOUBLE) - pc) / pc * 1e6 + 0.5) AS BIGINT)"))
      .filter(col("rq") =!= 0)
      .agg(count(lit(1)).cast("long").as("n"),
        sum(expr("CASE WHEN rq > 0 THEN 1L ELSE 0L END")).cast("long").as("nw"),
        sum(expr("CASE WHEN rq > 0 THEN rq ELSE 0L END")).cast("long").as("sw"),
        sum(expr("CASE WHEN rq < 0 THEN -rq ELSE 0L END")).cast("long").as("sl"))
      .selectExpr("n", "nw",
        "CAST(nw AS DOUBLE) / n AS p",
        "CAST(sw AS DOUBLE) / nw / 1e6 AS b",
        "CAST(sl AS DOUBLE) / (n - nw) / 1e6 AS a")
      .selectExpr("n", "nw",
        "round(p, 6) AS win_prob",
        "round(b, 6) AS avg_win",
        "round(a, 6) AS avg_loss",
        "round((p * b - (1 - p) * a) / (a * b), 4) AS kelly_fraction")
  }
  val winKellyFractionSql: String =
    """WITH bars AS (
      |  SELECT date_trunc('day', l_shipdate) AS day,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1),
      |r AS (
      |  SELECT CAST(floor((CAST(c AS DOUBLE) - lag(c, 1) OVER (ORDER BY day))
      |    / lag(c, 1) OVER (ORDER BY day) * 1e6 + 0.5) AS BIGINT) AS rq
      |  FROM bars QUALIFY lag(c, 1) OVER (ORDER BY day) IS NOT NULL),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN rq > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nw,
      |    CAST(sum(CASE WHEN rq > 0 THEN rq ELSE 0 END) AS BIGINT) AS sw,
      |    CAST(sum(CASE WHEN rq < 0 THEN -rq ELSE 0 END) AS BIGINT) AS sl
      |  FROM r WHERE rq <> 0),
      |p AS (
      |  SELECT n, nw, CAST(nw AS DOUBLE) / n AS p,
      |    CAST(sw AS DOUBLE) / nw / 1e6 AS b,
      |    CAST(sl AS DOUBLE) / (n - nw) / 1e6 AS a
      |  FROM m)
      |SELECT n, nw,
      |  round(p, 6) AS win_prob,
      |  round(b, 6) AS avg_win,
      |  round(a, 6) AS avg_loss,
      |  round((p * b - (1 - p) * a) / (a * b), 4) AS kelly_fraction
      |FROM p""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stat_generalized_esd" -> (statGeneralizedEsd _),
    "stat_watson_u2" -> (statWatsonU2 _),
    "scan_magic_bytes" -> (scanMagicBytes _),
    "win_kelly_fraction" -> (winKellyFraction _),
  )

  val oracle: Map[String, String] = Map(
    "stat_generalized_esd" -> statGeneralizedEsdSql,
    "stat_watson_u2" -> statWatsonU2Sql,
    "scan_magic_bytes" -> scanMagicBytesSql,
    "win_kelly_fraction" -> winKellyFractionSql,
  )
}
