package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Wave 86 (C748–C751): corpus-curation operators — the pairwise
  * Jensen–Shannon source-divergence matrix, the truncation-loss
  * census, two-proportion power planning, and the script-mix census.
  *
  * Shared discipline: distributions are EXACT token/char counts (one
  * scan, conditional per-source sums per token — never a per-pair
  * rescan); per-token log terms are quantized ·10⁶ before summing;
  * power/size formulas are closed forms over exact counts; script
  * detection is one regexp per script class, dialect-mapped (Java
  * \p{IsHan} ↔ RE2 \p{Han}).
  */
object Extras186 {

  /** C748 text_js_source_matrix — the pairwise JS divergence between
    * the 5 sources' token distributions, all 10 pairs from ONE token
    * histogram with per-source conditional counts:
    * JSD(p,q) = ½Σp·ln(2p/(p+q)) + ½Σq·ln(2q/(p+q)) (absent tokens
    * contribute exactly p·ln2). The "which sources are interchangeable"
    * matrix a mixture designer reads before reweighting.
    */
  def textJsSourceMatrix(s: SparkSession, d: String): DataFrame = {
    val tok = documents(s, d)
      .select(col("source"), explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("t"))
      .groupBy("t")
      .agg(
        sum(expr("CASE WHEN source = 'src0' THEN 1L ELSE 0L END")).cast("long").as("k0"),
        sum(expr("CASE WHEN source = 'src1' THEN 1L ELSE 0L END")).cast("long").as("k1"),
        sum(expr("CASE WHEN source = 'src2' THEN 1L ELSE 0L END")).cast("long").as("k2"),
        sum(expr("CASE WHEN source = 'src3' THEN 1L ELSE 0L END")).cast("long").as("k3"),
        sum(expr("CASE WHEN source = 'src4' THEN 1L ELSE 0L END")).cast("long").as("k4"))
    val tot = tok.agg(sum(col("k0")).cast("long").as("n0"), sum(col("k1")).cast("long").as("n1"),
      sum(col("k2")).cast("long").as("n2"), sum(col("k3")).cast("long").as("n3"),
      sum(col("k4")).cast("long").as("n4"))
    // per-token JSD terms for one pair (a, b): quantized nats ·1e6
    def term(a: String, b: String, na: String, nb: String): String =
      s"""CAST(floor((
         |  CASE WHEN $a > 0 THEN CAST($a AS DOUBLE) / $na
         |    * ln(2.0 * ($a / CAST($na AS DOUBLE))
         |         / ($a / CAST($na AS DOUBLE) + $b / CAST($nb AS DOUBLE))) ELSE 0.0D END
         |+ CASE WHEN $b > 0 THEN CAST($b AS DOUBLE) / $nb
         |    * ln(2.0 * ($b / CAST($nb AS DOUBLE))
         |         / ($a / CAST($na AS DOUBLE) + $b / CAST($nb AS DOUBLE))) ELSE 0.0D END
         |) * 1e6 + 0.5) AS BIGINT)""".stripMargin
    val pairs = Seq((0, 1), (0, 2), (0, 3), (0, 4), (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4))
    val aggs = pairs.map { case (i, j) =>
      sum(expr(term(s"k$i", s"k$j", s"n$i", s"n$j"))).cast("long").as(s"j$i$j")
    }
    val one = tok.crossJoin(broadcast(tot)).agg(aggs.head, aggs.tail: _*)
    val stackExpr = pairs.map { case (i, j) =>
      s"'src$i', 'src$j', round(CAST(j$i$j AS DOUBLE) / 2e6, 6)"
    }.mkString(s"stack(${pairs.size}, ", ", ", ") AS (src_a, src_b, jsd_nats)")
    one.selectExpr(stackExpr).orderBy("src_a", "src_b")
  }
  val textJsSourceMatrixSql: String = {
    val pairs = Seq((0, 1), (0, 2), (0, 3), (0, 4), (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4))
    def term(a: String, b: String, na: String, nb: String): String =
      s"""CAST(floor((
         |  CASE WHEN $a > 0 THEN CAST($a AS DOUBLE) / $na
         |    * ln(2.0 * ($a / CAST($na AS DOUBLE))
         |         / ($a / CAST($na AS DOUBLE) + $b / CAST($nb AS DOUBLE))) ELSE 0.0 END
         |+ CASE WHEN $b > 0 THEN CAST($b AS DOUBLE) / $nb
         |    * ln(2.0 * ($b / CAST($nb AS DOUBLE))
         |         / ($a / CAST($na AS DOUBLE) + $b / CAST($nb AS DOUBLE))) ELSE 0.0 END
         |) * 1e6 + 0.5) AS BIGINT)""".stripMargin
    val sums = pairs.map { case (i, j) =>
      s"CAST(sum(${term(s"k$i", s"k$j", s"n$i", s"n$j")}) AS BIGINT) AS j$i$j"
    }.mkString(",\n    ")
    val rows = pairs.map { case (i, j) =>
      s"SELECT 'src$i' AS src_a, 'src$j' AS src_b, round(CAST(j$i$j AS DOUBLE) / 2e6, 6) AS jsd_nats FROM agg"
    }.mkString("\n  UNION ALL ")
    s"""WITH tok AS (
       |  SELECT t,
       |    CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS k0,
       |    CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS k1,
       |    CAST(sum(CASE WHEN source = 'src2' THEN 1 ELSE 0 END) AS BIGINT) AS k2,
       |    CAST(sum(CASE WHEN source = 'src3' THEN 1 ELSE 0 END) AS BIGINT) AS k3,
       |    CAST(sum(CASE WHEN source = 'src4' THEN 1 ELSE 0 END) AS BIGINT) AS k4
       |  FROM (SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS t
       |        FROM documents)
       |  GROUP BY 1),
       |tot AS (
       |  SELECT CAST(sum(k0) AS BIGINT) AS n0, CAST(sum(k1) AS BIGINT) AS n1,
       |    CAST(sum(k2) AS BIGINT) AS n2, CAST(sum(k3) AS BIGINT) AS n3,
       |    CAST(sum(k4) AS BIGINT) AS n4
       |  FROM tok),
       |agg AS (
       |  SELECT
       |    $sums
       |  FROM tok, tot)
       |SELECT * FROM (
       |  $rows)
       |ORDER BY src_a, src_b""".stripMargin
  }

  /** C749 pipeline_truncation_loss — what do fixed context caps cost?
    * For caps of 256/512/1024 chars: the share of DOCS that would be
    * cut and the share of CHARS lost (exact integer sums), per cap in
    * one scan via per-row cap explode. The table read before choosing
    * a sequence length.
    */
  def pipelineTruncationLoss(s: SparkSession, d: String): DataFrame = {
    documents(s, d)
      .select(col("n_chars"), explode(expr("array(256L, 512L, 1024L)")).as("cap"))
      .groupBy("cap")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(expr("CASE WHEN n_chars > cap THEN 1L ELSE 0L END")).cast("long").as("n_cut"),
        sum(col("n_chars")).cast("decimal(38,0)").as("chars_total"),
        sum(expr("CASE WHEN n_chars > cap THEN n_chars - cap ELSE 0L END"))
          .cast("decimal(38,0)").as("chars_lost"))
      .selectExpr("cap", "n_docs", "n_cut",
        "round(CAST(n_cut AS DOUBLE) / n_docs, 6) AS doc_cut_share",
        "round(CAST(chars_lost AS DOUBLE) / CAST(chars_total AS DOUBLE), 6) AS char_loss_share")
      .orderBy("cap")
  }
  val pipelineTruncationLossSql: String =
    """WITH caps AS (
      |  SELECT n_chars, unnest([CAST(256 AS BIGINT), CAST(512 AS BIGINT), CAST(1024 AS BIGINT)]) AS cap
      |  FROM documents),
      |g AS (
      |  SELECT cap, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(CASE WHEN n_chars > cap THEN 1 ELSE 0 END) AS BIGINT) AS n_cut,
      |    CAST(sum(n_chars) AS DECIMAL(38,0)) AS chars_total,
      |    CAST(sum(CASE WHEN n_chars > cap THEN n_chars - cap ELSE 0 END) AS DECIMAL(38,0)) AS chars_lost
      |  FROM caps GROUP BY 1)
      |SELECT cap, n_docs, n_cut,
      |  round(CAST(n_cut AS DOUBLE) / n_docs, 6) AS doc_cut_share,
      |  round(CAST(chars_lost AS DOUBLE) / CAST(chars_total AS DOUBLE), 6) AS char_loss_share
      |FROM g ORDER BY cap""".stripMargin

  /** C750 stat_power_two_prop — sample-size planning for detecting
    * the english-share gap between the two largest sources at 80%
    * power / 5% two-sided α: n per arm =
    * (z_α√(2p̄(1−p̄)) + z_β√(p₁(1−p₁)+p₂(1−p₂)))² / δ². Exact counts
    * in, one closed form out — the power complement to C727's
    * precision-targeted Cochran row.
    */
  def statPowerTwoProp(s: SparkSession, d: String): DataFrame = {
    val two = documents(s, d).groupBy("source")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(expr("CASE WHEN lang = 'en' THEN 1L ELSE 0L END")).cast("long").as("x"))
      .orderBy(col("n").desc, col("source").asc).limit(2)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("n").desc, col("source").asc)))
    two.agg(
        max(expr("CASE WHEN rn = 1 THEN source END")).as("src_a"),
        max(expr("CASE WHEN rn = 2 THEN source END")).as("src_b"),
        max(expr("CASE WHEN rn = 1 THEN CAST(x AS DOUBLE) / n END")).as("p1"),
        max(expr("CASE WHEN rn = 2 THEN CAST(x AS DOUBLE) / n END")).as("p2"))
      .selectExpr("src_a", "src_b", "round(p1, 6) AS p1", "round(p2, 6) AS p2",
        "(p1 + p2) / 2 AS pbar", "abs(p1 - p2) AS delta")
      .selectExpr("src_a", "src_b", "p1", "p2",
        """round(pow(1.959964 * sqrt(2 * pbar * (1 - pbar))
          |  + 0.841621 * sqrt(p1 * (1 - p1) + p2 * (1 - p2)), 2)
          |/ (delta * delta), 2) AS n_per_arm""".stripMargin)
  }
  val statPowerTwoPropSql: String =
    """WITH src AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS x
      |  FROM documents GROUP BY 1
      |  ORDER BY n DESC, source LIMIT 2),
      |r AS (
      |  SELECT source, n, x, row_number() OVER (ORDER BY n DESC, source) AS rn
      |  FROM src),
      |m AS (
      |  SELECT max(CASE WHEN rn = 1 THEN source END) AS src_a,
      |    max(CASE WHEN rn = 2 THEN source END) AS src_b,
      |    max(CASE WHEN rn = 1 THEN CAST(x AS DOUBLE) / n END) AS p1,
      |    max(CASE WHEN rn = 2 THEN CAST(x AS DOUBLE) / n END) AS p2
      |  FROM r),
      |m2 AS (
      |  SELECT src_a, src_b, round(p1, 6) AS p1r, round(p2, 6) AS p2r,
      |    (p1 + p2) / 2 AS pbar, abs(p1 - p2) AS delta, p1, p2
      |  FROM m)
      |SELECT src_a, src_b, p1r AS p1, p2r AS p2,
      |  round(pow(1.959964 * sqrt(2 * pbar * (1 - pbar))
      |    + 0.841621 * sqrt(p1 * (1 - p1) + p2 * (1 - p2)), 2)
      |  / (delta * delta), 2) AS n_per_arm
      |FROM m2""".stripMargin

  /** C751 text_script_mix — the character-class census per language:
    * share of docs containing Han characters (the mojibake screen —
    * this corpus is pure ASCII, so a nonzero value flags an encoding
    * regression), Latin letters, digits, terminal punctuation, and
    * the digit∧latin mix. One regexp per class — Java \p{IsHan} on
    * the Spark side, RE2 \p{Han} in the oracle; exact doc counts.
    */
  def textScriptMix(s: SparkSession, d: String): DataFrame = {
    documents(s, d)
      .select(col("lang"),
        expr("CAST(text RLIKE '\\\\p{IsHan}' AS INT)").as("has_han"),
        expr("CAST(text RLIKE '[A-Za-z]' AS INT)").as("has_latin"),
        expr("CAST(text RLIKE '[0-9]' AS INT)").as("has_digit"),
        expr("CAST(text RLIKE '[.!?]' AS INT)").as("has_punct"))
      .groupBy("lang")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("has_han")).cast("long").as("n_han"),
        sum(col("has_latin")).cast("long").as("n_latin"),
        sum(col("has_digit")).cast("long").as("n_digit"),
        sum(col("has_punct")).cast("long").as("n_punct"),
        sum(expr("has_digit * has_latin")).cast("long").as("n_mixed"))
      .selectExpr("lang", "n_docs",
        "round(CAST(n_han AS DOUBLE) / n_docs, 6) AS han_share",
        "round(CAST(n_latin AS DOUBLE) / n_docs, 6) AS latin_share",
        "round(CAST(n_digit AS DOUBLE) / n_docs, 6) AS digit_share",
        "round(CAST(n_punct AS DOUBLE) / n_docs, 6) AS punct_share",
        "round(CAST(n_mixed AS DOUBLE) / n_docs, 6) AS mixed_share")
      .orderBy("lang")
  }
  val textScriptMixSql: String =
    """WITH f AS (
      |  SELECT lang,
      |    CASE WHEN regexp_matches(text, '\p{Han}') THEN 1 ELSE 0 END AS has_han,
      |    CASE WHEN regexp_matches(text, '[A-Za-z]') THEN 1 ELSE 0 END AS has_latin,
      |    CASE WHEN regexp_matches(text, '[0-9]') THEN 1 ELSE 0 END AS has_digit,
      |    CASE WHEN regexp_matches(text, '[.!?]') THEN 1 ELSE 0 END AS has_punct
      |  FROM documents)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  round(CAST(sum(has_han) AS DOUBLE) / count(*), 6) AS han_share,
      |  round(CAST(sum(has_latin) AS DOUBLE) / count(*), 6) AS latin_share,
      |  round(CAST(sum(has_digit) AS DOUBLE) / count(*), 6) AS digit_share,
      |  round(CAST(sum(has_punct) AS DOUBLE) / count(*), 6) AS punct_share,
      |  round(CAST(sum(has_digit * has_latin) AS DOUBLE) / count(*), 6) AS mixed_share
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_js_source_matrix" -> (textJsSourceMatrix _),
    "pipeline_truncation_loss" -> (pipelineTruncationLoss _),
    "stat_power_two_prop" -> (statPowerTwoProp _),
    "text_script_mix" -> (textScriptMix _),
  )

  val oracle: Map[String, String] = Map(
    "text_js_source_matrix" -> textJsSourceMatrixSql,
    "pipeline_truncation_loss" -> pipelineTruncationLossSql,
    "stat_power_two_prop" -> statPowerTwoPropSql,
    "text_script_mix" -> textScriptMixSql,
  )
}
