package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.FloatVecDot.{dot, dotSql}

/** Wave 33 (C536–C539): Theil inequality decomposition, two-sample
  * embedding energy distance, audio level-crossing rate, and the
  * Breusch–Pagan heteroscedasticity test.
  */
object Extras133 {

  /** C536 stat_theil_inequality — Theil-T inequality of customer
    * lifetime spend, decomposed by nation: T = T_between +
    * Σ_g (S_g/S)·T_within_g. Per-customer entropy terms x·ln(x·N_g/S_g)
    * are ONE ln over exact integers → identical doubles, quantized at
    * a 1e-6 grain and summed exactly (DECIMAL) per nation — float
    * accumulation never crosses rows. Between-group terms quantize
    * ln(μ_g/μ) at 1e-9 and scale by the exact S_g. Group stats are a
    * 25-row broadcast back onto the customer frame — all joins equi.
    */
  def statTheilInequality(s: SparkSession, d: String): DataFrame = {
    val spend = orders(s, d)
      .groupBy("o_custkey")
      .agg(sum(expr(
        "CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)"))
        .cast("long").as("x"))
      .join(customer(s, d).select(col("c_custkey").as("o_custkey"),
        col("c_nationkey")), "o_custkey")
      .join(broadcast(nation(s, d).select(col("n_nationkey").as("c_nationkey"),
        col("n_name"))), "c_nationkey")
    val g = spend.groupBy("n_name")
      .agg(count(lit(1)).cast("long").as("ng"),
        sum(col("x")).cast("long").as("sg"))
    val tot = g.agg(sum(col("ng")).cast("long").as("nn"),
      sum(col("sg")).cast("long").as("ss"))
    val within = spend.join(broadcast(g), "n_name")
      .selectExpr("n_name",
        """CAST(floor(x * ln(CAST(x AS DOUBLE) * ng / CAST(sg AS DOUBLE))
          |  * 1e6 + 0.5) AS BIGINT) AS q""".stripMargin)
      .groupBy("n_name")
      .agg(sum(expr("CAST(q AS DECIMAL(38,0))")).as("qsum"))
    val gx = g.join(within, "n_name").crossJoin(broadcast(tot))
      .selectExpr("n_name", "ng", "sg", "qsum", "nn", "ss",
        """CAST(sg AS DECIMAL(38,0))
          |  * CAST(floor(ln(CAST(sg AS DOUBLE) * nn
          |      / (ng * CAST(ss AS DOUBLE))) * 1e9 + 0.5) AS BIGINT)
          |  AS bterm""".stripMargin)
    val totals = gx.agg(
        sum(col("qsum")).as("qall"), sum(col("bterm")).as("ball"),
        max(col("ss")).cast("decimal(38,0)").as("ssd"))
      .selectExpr(
        "round(CAST(ball AS DOUBLE) / 1e9 / CAST(ssd AS DOUBLE), 6) AS theil_between",
        """round(CAST(ball AS DOUBLE) / 1e9 / CAST(ssd AS DOUBLE)
          |  + CAST(qall AS DOUBLE) / 1e6 / CAST(ssd AS DOUBLE), 6)
          |  AS theil_total""".stripMargin)
    gx.crossJoin(broadcast(totals))
      .selectExpr("n_name", "ng AS n_cust",
        "round(CAST(sg AS DOUBLE) / ng / 100, 6) AS mean_spend",
        "round(CAST(sg AS DOUBLE) / ss, 6) AS revenue_share",
        "round(CAST(qsum AS DOUBLE) / 1e6 / CAST(sg AS DOUBLE), 6) AS theil_within",
        "theil_between", "theil_total")
      .orderBy("n_name")
  }
  val statTheilInequalitySql: String =
    """WITH spend AS (
      |  SELECT n_name, CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS x
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY o_custkey, n_name),
      |g AS (
      |  SELECT n_name, CAST(count(*) AS BIGINT) AS ng,
      |    CAST(sum(x) AS BIGINT) AS sg
      |  FROM spend GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(ng) AS BIGINT) AS nn, CAST(sum(sg) AS BIGINT) AS ss
      |  FROM g),
      |within AS (
      |  SELECT spend.n_name,
      |    CAST(sum(CAST(CAST(floor(x * ln(CAST(x AS DOUBLE) * ng
      |      / CAST(sg AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS DECIMAL(38,0)))
      |      AS DECIMAL(38,0)) AS qsum
      |  FROM spend JOIN g ON spend.n_name = g.n_name
      |  GROUP BY 1),
      |gx AS (
      |  SELECT g.n_name, ng, sg, qsum, nn, ss,
      |    CAST(sg AS DECIMAL(38,0))
      |      * CAST(floor(ln(CAST(sg AS DOUBLE) * nn
      |          / (ng * CAST(ss AS DOUBLE))) * 1e9 + 0.5) AS BIGINT) AS bterm
      |  FROM g JOIN within ON g.n_name = within.n_name, tot),
      |totals AS (
      |  SELECT
      |    round(CAST(sum(bterm) AS DOUBLE) / 1e9
      |      / CAST(max(ss) AS DOUBLE), 6) AS theil_between,
      |    round(CAST(sum(bterm) AS DOUBLE) / 1e9 / CAST(max(ss) AS DOUBLE)
      |      + CAST(sum(qsum) AS DOUBLE) / 1e6 / CAST(max(ss) AS DOUBLE), 6)
      |      AS theil_total
      |  FROM gx)
      |SELECT n_name, ng AS n_cust,
      |  round(CAST(sg AS DOUBLE) / ng / 100, 6) AS mean_spend,
      |  round(CAST(sg AS DOUBLE) / ss, 6) AS revenue_share,
      |  round(CAST(qsum AS DOUBLE) / 1e6 / CAST(sg AS DOUBLE), 6) AS theil_within,
      |  theil_between, theil_total
      |FROM gx, totals ORDER BY n_name""".stripMargin

  /** C537 embed_energy_distance — Székely's two-sample energy
    * distance E²(X,Y) = 2·E d(X,Y) − E d(X,X') − E d(Y,Y') between
    * label-0 and label-1 embeddings of the FIXED 500-vector probe
    * sample (the C491 convention — O(1) pairs in the corpus).
    * Distances compose three bit-exact FloatVecDot left-folds
    * (d² = ‖a‖² − 2a·b + ‖b‖², guarded by greatest(…,0)), one IEEE
    * sqrt, then 1e-9-grain quantization so the per-class means are
    * EXACT integer sums — no float accumulation across pairs. The
    * statistic uses V-STATISTIC weights (2Σ/n², diagonal zeros in the
    * denominator) — the form that carries the E² ≥ 0 guarantee;
    * U-statistic means go negative for close distributions.
    */
  def embedEnergyDistance(s: SparkSession, d: String): DataFrame = {
    val sample = embeddings(s, d)
      .filter(col("vec_id") < 500 && col("label").isin(0, 1))
      .select(col("vec_id"), col("label"), col("embedding"),
        dot("embedding", "embedding").as("nrm"))
    val a = sample.select(col("vec_id").as("va"), col("label").as("la"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = sample.select(col("vec_id").as("vb"), col("label").as("lb"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val pairs = a.join(b, col("va") < col("vb"))
      .withColumn("dab", dot("ea", "eb"))
      .selectExpr(
        "CASE WHEN la = lb THEN (CASE WHEN la = 0 THEN 'xx' ELSE 'yy' END) " +
          "ELSE 'xy' END AS kind",
        """CAST(floor(sqrt(greatest(na - 2 * dab + nb, 0.0)) * 1e9 + 0.5)
          |  AS BIGINT) AS q""".stripMargin)
    val sizes = sample.agg(
      sum(when(col("label") === 0, 1L).otherwise(0L)).cast("long").as("nx"),
      sum(when(col("label") === 1, 1L).otherwise(0L)).cast("long").as("ny"))
    val cells = pairs.groupBy("kind")
      .agg(count(lit(1)).cast("long").as("cnt"),
        sum(expr("CAST(q AS DECIMAL(38,0))")).as("sq"))
    cells.agg(
        sum(when(col("kind") === "xy", col("cnt"))).cast("long").as("n_xy"),
        sum(when(col("kind") === "xy", col("sq"))).as("s_xy"),
        sum(when(col("kind") === "xx", col("sq"))).as("s_xx"),
        sum(when(col("kind") === "yy", col("sq"))).as("s_yy"))
      .crossJoin(broadcast(sizes))
      // V-statistic weights (2Σ/n² — diagonal zeros included): the
      // form with the E²(X,Y) >= 0 guarantee; U-statistic means go
      // negative for close distributions
      .selectExpr("nx", "ny",
        "round(CAST(s_xy AS DOUBLE) / n_xy / 1e9, 6) AS mean_xy",
        "round(2 * CAST(s_xx AS DOUBLE) / (CAST(nx AS DOUBLE) * nx) / 1e9, 6) AS mean_xx",
        "round(2 * CAST(s_yy AS DOUBLE) / (CAST(ny AS DOUBLE) * ny) / 1e9, 6) AS mean_yy",
        """round(2 * (CAST(s_xy AS DOUBLE) / n_xy / 1e9)
          |  - 2 * CAST(s_xx AS DOUBLE) / (CAST(nx AS DOUBLE) * nx) / 1e9
          |  - 2 * CAST(s_yy AS DOUBLE) / (CAST(ny AS DOUBLE) * ny) / 1e9,
          |  6) AS energy_dist""".stripMargin)
  }
  val embedEnergyDistanceSql: String = {
    val dab = dotSql("a.embedding", "b.embedding")
    val naa = dotSql("a.embedding", "a.embedding")
    val nbb = dotSql("b.embedding", "b.embedding")
    s"""WITH sample AS (
       |  SELECT vec_id, label, embedding FROM embeddings
       |  WHERE vec_id < 500 AND label IN (0, 1)),
       |pairs AS (
       |  SELECT CASE WHEN a.label = b.label
       |      THEN (CASE WHEN a.label = 0 THEN 'xx' ELSE 'yy' END)
       |      ELSE 'xy' END AS kind,
       |    CAST(floor(sqrt(greatest(($naa) - 2 * ($dab) + ($nbb), 0.0))
       |      * 1e9 + 0.5) AS BIGINT) AS q
       |  FROM sample a JOIN sample b ON a.vec_id < b.vec_id),
       |sizes AS (
       |  SELECT CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nx,
       |    CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ny
       |  FROM sample),
       |cells AS (
       |  SELECT kind, CAST(count(*) AS BIGINT) AS cnt,
       |    CAST(sum(CAST(q AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sq
       |  FROM pairs GROUP BY 1),
       |agg AS (
       |  SELECT
       |    CAST(sum(CASE WHEN kind = 'xy' THEN cnt END) AS BIGINT) AS n_xy,
       |    sum(CASE WHEN kind = 'xy' THEN sq END) AS s_xy,
       |    sum(CASE WHEN kind = 'xx' THEN sq END) AS s_xx,
       |    sum(CASE WHEN kind = 'yy' THEN sq END) AS s_yy
       |  FROM cells)
       |SELECT nx, ny,
       |  round(CAST(s_xy AS DOUBLE) / n_xy / 1e9, 6) AS mean_xy,
       |  round(2 * CAST(s_xx AS DOUBLE) / (CAST(nx AS DOUBLE) * nx) / 1e9, 6) AS mean_xx,
       |  round(2 * CAST(s_yy AS DOUBLE) / (CAST(ny AS DOUBLE) * ny) / 1e9, 6) AS mean_yy,
       |  round(2 * (CAST(s_xy AS DOUBLE) / n_xy / 1e9)
       |    - 2 * CAST(s_xx AS DOUBLE) / (CAST(nx AS DOUBLE) * nx) / 1e9
       |    - 2 * CAST(s_yy AS DOUBLE) / (CAST(ny AS DOUBLE) * ny) / 1e9,
       |    6) AS energy_dist
       |FROM agg, sizes""".stripMargin
  }

  /** C538 multimodal_audio_zcr — level-crossing rate of the 8-bit
    * "PCM" blob (the C9/C46/audio-energy decode-boundary pattern:
    * bytes are corpus-verified ASCII, so the DuckDB oracle mirrors
    * per-character). True zero crossings are degenerate here (ASCII
    * never crosses 128), so the rate is taken at the fixed level 64 —
    * the corpus byte midpoint, where text genuinely oscillates
    * (space 32 ↔ letters ≥97) — the DC-offset-corrected equivalent.
    * The count is exact integer work inside one mapPartitions pass;
    * rate = crossings/(n−1), one IEEE division.
    */
  def multimodalAudioZcr(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, blob) =>
          // codec/model load would be amortized per-partition here
          var crossings = 0L
          var i = 1
          while (i < blob.length) {
            val lo0 = (blob(i - 1) & 0xff) < 64
            val lo1 = (blob(i) & 0xff) < 64
            if (lo0 != lo1) crossings += 1
            i += 1
          }
          (id, blob.length.toLong, crossings)
        }
      }
      .toDF("doc_id", "n_samples", "n_crossings")
      .selectExpr("doc_id", "n_samples", "n_crossings",
        "round(CAST(n_crossings AS DOUBLE) / nullif(n_samples - 1, 0), 6) AS zcr")
      .orderBy("doc_id")
  }
  val multimodalAudioZcrSql: String =
    """WITH chars AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN ascii(text[pos]) < 64 THEN 1 ELSE 0 END AS lo
      |  FROM (SELECT doc_id, text, unnest(generate_series(1, length(text)))
      |    AS pos FROM documents) t),
      |lagged AS (
      |  SELECT doc_id, lo,
      |    lag(lo) OVER (PARTITION BY doc_id ORDER BY pos) AS plo
      |  FROM chars),
      |agg AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
      |    CAST(sum(CASE WHEN plo IS NOT NULL AND lo <> plo THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_crossings
      |  FROM lagged GROUP BY 1)
      |SELECT doc_id, n_samples, n_crossings,
      |  round(CAST(n_crossings AS DOUBLE) / nullif(n_samples - 1, 0), 6) AS zcr
      |FROM agg ORDER BY doc_id""".stripMargin

  /** C539 stat_breusch_pagan — heteroscedasticity screen on the daily
    * revenue trend, completing the C528/C534 regression-diagnostic
    * trio: auxiliary regression of the squared residual on t, BP =
    * n·R². The residual reuses C528's exact cleared-denominator form,
    * quantized here at a DOLLAR grain (one IEEE division of exact
    * integers) so y = ê² and its square both stay inside
    * DECIMAL(38,0) at sf1 scale; R² assembles from exact sums in one
    * fixed-order IEEE block. χ²₁ threshold 3.841.
    */
  def statBreuschPagan(s: SparkSession, d: String): DataFrame = {
    val daily = lineitem(s, d)
      .groupBy(date_trunc("day", col("l_shipdate")).as("day"))
      .agg(sum(expr(
        "CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)"))
        .cast("long").as("c"))
      .withColumn("t", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("day")).cast("long"))
    val fit = daily.agg(
        count(lit(1)).cast("long").as("n"),
        sum(col("t")).cast("long").as("st"),
        sum(col("c")).cast("long").as("sc"),
        sum(expr("t * t")).cast("long").as("stt"),
        sum(expr("t * c")).cast("long").as("stc"))
      .selectExpr("n",
        "CAST(n AS DECIMAL(38,0)) * stc - CAST(st AS DECIMAL(38,0)) * sc AS nb",
        "CAST(n AS DECIMAL(38,0)) * stt - CAST(st AS DECIMAL(38,0)) * st AS dd",
        "CAST(st AS DECIMAL(38,0)) AS std", "CAST(sc AS DECIMAL(38,0)) AS scd")
      .selectExpr("n", "nb", "dd",
        "scd * dd - nb * std AS a2",
        "CAST(n AS DECIMAL(38,0)) * dd AS nd")
    val aux = daily.crossJoin(broadcast(fit))
      .selectExpr("t", "n",
        """CAST(floor(CAST(CAST(c AS DECIMAL(38,0)) * nd - a2
          |  - nb * CAST(n AS DECIMAL(38,0)) * t AS DOUBLE)
          |  / CAST(nd AS DOUBLE) / 100 + 0.5) AS BIGINT) AS ed""".stripMargin)
      .selectExpr("t", "n", "CAST(ed AS DECIMAL(38,0)) * ed AS y")
    aux.agg(
        max(col("n")).as("n"),
        sum(col("t")).cast("decimal(38,0)").as("sx"),
        sum(col("y")).as("sy"),
        sum(expr("CAST(t AS DECIMAL(38,0)) * t")).as("sxx"),
        sum(expr("CAST(t AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("y * y")).as("syy"))
      .selectExpr("n",
        """round(CAST(n * sxy - sx * sy AS DOUBLE)
          |  * CAST(n * sxy - sx * sy AS DOUBLE)
          |  / (CAST(n * sxx - sx * sx AS DOUBLE)
          |     * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2_aux""".stripMargin)
      .selectExpr("n AS n_days", "r2_aux",
        "round(n * r2_aux, 6) AS bp",
        "n * r2_aux > 3.841 AS heteroscedastic")
  }
  val statBreuschPaganSql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', l_shipdate) AS day,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1),
      |td AS (
      |  SELECT c, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
      |  FROM daily),
      |sums AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(t) AS BIGINT) AS st, CAST(sum(c) AS BIGINT) AS sc,
      |    CAST(sum(t * t) AS BIGINT) AS stt, CAST(sum(t * c) AS BIGINT) AS stc
      |  FROM td),
      |fit0 AS (
      |  SELECT n,
      |    CAST(n AS DECIMAL(38,0)) * stc - CAST(st AS DECIMAL(38,0)) * sc AS nb,
      |    CAST(n AS DECIMAL(38,0)) * stt - CAST(st AS DECIMAL(38,0)) * st AS dd,
      |    CAST(st AS DECIMAL(38,0)) AS std, CAST(sc AS DECIMAL(38,0)) AS scd
      |  FROM sums),
      |fit AS (
      |  SELECT n, nb, dd, scd * dd - nb * std AS a2,
      |    CAST(n AS DECIMAL(38,0)) * dd AS nd
      |  FROM fit0),
      |aux AS (
      |  SELECT t, n,
      |    CAST(CAST(floor(CAST(CAST(c AS DECIMAL(38,0)) * nd - a2
      |      - nb * CAST(n AS DECIMAL(38,0)) * t AS DOUBLE)
      |      / CAST(nd AS DOUBLE) / 100 + 0.5) AS BIGINT) AS DECIMAL(38,0))
      |      * CAST(floor(CAST(CAST(c AS DECIMAL(38,0)) * nd - a2
      |      - nb * CAST(n AS DECIMAL(38,0)) * t AS DOUBLE)
      |      / CAST(nd AS DOUBLE) / 100 + 0.5) AS BIGINT) AS y
      |  FROM td, fit),
      |agg AS (
      |  SELECT CAST(max(n) AS BIGINT) AS n,
      |    CAST(sum(t) AS DECIMAL(38,0)) AS sx,
      |    CAST(sum(y) AS DECIMAL(38,0)) AS sy,
      |    CAST(sum(CAST(t AS DECIMAL(38,0)) * t) AS DECIMAL(38,0)) AS sxx,
      |    CAST(sum(CAST(t AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
      |    CAST(sum(y * y) AS DECIMAL(38,0)) AS syy
      |  FROM aux),
      |r2 AS (
      |  SELECT n,
      |    round(CAST(n * sxy - sx * sy AS DOUBLE)
      |      * CAST(n * sxy - sx * sy AS DOUBLE)
      |      / (CAST(n * sxx - sx * sx AS DOUBLE)
      |         * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2_aux
      |  FROM agg)
      |SELECT n AS n_days, r2_aux, round(n * r2_aux, 6) AS bp,
      |  n * r2_aux > 3.841 AS heteroscedastic
      |FROM r2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stat_theil_inequality" -> (statTheilInequality _),
    "embed_energy_distance" -> (embedEnergyDistance _),
    "multimodal_audio_zcr" -> (multimodalAudioZcr _),
    "stat_breusch_pagan" -> (statBreuschPagan _),
  )

  val oracle: Map[String, String] = Map(
    "stat_theil_inequality" -> statTheilInequalitySql,
    "embed_energy_distance" -> embedEnergyDistanceSql,
    "multimodal_audio_zcr" -> multimodalAudioZcrSql,
    "stat_breusch_pagan" -> statBreuschPaganSql,
  )
}
