package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Wave 129 (C920–C923): 2D spatial statistics on the deterministic
  * 32×32 customer hash-grid torus — Getis–Ord General G, black/white
  * join counts, the Knox space-time interaction test, and Ripley's K
  * on the lattice.
  *
  * Shared discipline: space is the md5 cell (cx, cy) of the customer
  * key (pmod ⇒ plan-gate bounded), every statistic reduces to exact
  * integer algebra over the ≤1024-cell histogram (neighbor equi-joins
  * on the torus, never point-pair enumeration), and each test carries
  * its closed-form null expectation on the torus (all cells have
  * degree 4, so the usual boundary corrections vanish).
  */
object Extras229 {

  /** Exact revenue cents per 32×32 torus cell (one corpus scan),
    * localCheckpoint-pinned: every consumer fans out 2–5 ways over the
    * ≤1024-row cell histogram and must not re-run the corpus join.
    */
  private def grid(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .join(customer(s, d).select(col("c_custkey").as("o_custkey")), Seq("o_custkey"))
      .groupBy(
        expr("pmod(conv(substring(md5(concat('x', CAST(o_custkey AS STRING))), 1, 4), 16, 10), 32)")
          .cast("long").as("cx"),
        expr("pmod(conv(substring(md5(concat('y', CAST(o_custkey AS STRING))), 1, 4), 16, 10), 32)")
          .cast("long").as("cy"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)"))
        .cast("decimal(38,0)").as("v"),
        count(lit(1)).cast("long").as("npts"))
      .localCheckpoint(true)
  private val gridSql: String =
    """grid AS (
      |  SELECT CAST(CAST('0x' || substr(md5('x' || CAST(o_custkey AS VARCHAR)), 1, 4) AS BIGINT) % 32 AS BIGINT) AS cx,
      |    CAST(CAST('0x' || substr(md5('y' || CAST(o_custkey AS VARCHAR)), 1, 4) AS BIGINT) % 32 AS BIGINT) AS cy,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)) AS DECIMAL(38,0)) AS v,
      |    CAST(count(*) AS BIGINT) AS npts
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY 1, 2)""".stripMargin

  /** C920 stat_getis_ord_g — Getis–Ord General G on the torus rook
    * graph: G = Σᵢⱼ wᵢⱼvᵢvⱼ / Σᵢ≠ⱼ vᵢvⱼ with w the 4-neighbor torus
    * adjacency — numerator from 4 shifted equi-joins of the cell
    * histogram, denominator (Σv)²−Σv² exact decimals. E[G] = W/(n(n−1))
    * on the torus (W = 4n); G/E[G] > 1 ⇔ high values cluster. The
    * global hot-spot screen before any local Gᵢ* drill-down.
    */
  def statGetisOrdG(s: SparkSession, d: String): DataFrame = {
    val g = grid(s, d)
    val shifted = g.select(col("cx"), col("cy"), col("v"))
    val nbr = shifted
      .select(explode(expr(
        "array(named_struct('dx', 1L, 'dy', 0L), named_struct('dx', -1L, 'dy', 0L), named_struct('dx', 0L, 'dy', 1L), named_struct('dx', 0L, 'dy', -1L))"))
        .as("o"), col("cx"), col("cy"), col("v"))
      .select(expr("pmod(cx + o.dx, 32)").as("cx"), expr("pmod(cy + o.dy, 32)").as("cy"),
        col("v").as("vn"))
    val num = g.join(nbr, Seq("cx", "cy"))
      .agg(sum(expr("v * vn")).cast("decimal(38,0)").as("num"))
    val tot = g.agg(count(lit(1)).cast("long").as("ncells"),
      sum(col("v")).cast("decimal(38,0)").as("sv"),
      sum(expr("v * v")).cast("decimal(38,0)").as("sv2"))
    num.crossJoin(broadcast(tot))
      .selectExpr("ncells",
        """CAST(num AS DOUBLE)
          |/ (CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) - CAST(sv2 AS DOUBLE)) AS g""".stripMargin,
        "CAST(4 AS DOUBLE) * ncells / (CAST(ncells AS DOUBLE) * (ncells - 1)) AS eg")
      .selectExpr("ncells AS n_cells", "round(g, 8) AS general_g", "round(eg, 8) AS e_g",
        "round(g / eg, 6) AS g_ratio",
        "CASE WHEN g > eg THEN 'high_clustering' ELSE 'dispersed_or_low' END AS verdict")
  }
  val statGetisOrdGSql: String =
    s"""WITH $gridSql,
      |nbr AS (
      |  SELECT (cx + dx + 32) % 32 AS cx, (cy + dy + 32) % 32 AS cy, v AS vn
      |  FROM grid, (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)) AS o(dx, dy)),
      |num AS (
      |  SELECT CAST(sum(CAST(g.v AS HUGEINT) * vn) AS DECIMAL(38,0)) AS num
      |  FROM grid g JOIN nbr ON g.cx = nbr.cx AND g.cy = nbr.cy),
      |tot AS (
      |  SELECT CAST(count(*) AS BIGINT) AS ncells,
      |    CAST(sum(CAST(v AS HUGEINT)) AS DECIMAL(38,0)) AS sv,
      |    CAST(sum(CAST(v AS HUGEINT) * v) AS DECIMAL(38,0)) AS sv2
      |  FROM grid),
      |fin AS (
      |  SELECT ncells,
      |    CAST(num AS DOUBLE)
      |    / (CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) - CAST(sv2 AS DOUBLE)) AS g,
      |    CAST(4 AS DOUBLE) * ncells / (CAST(ncells AS DOUBLE) * (ncells - 1)) AS eg
      |  FROM num, tot)
      |SELECT ncells AS n_cells, round(g, 8) AS general_g, round(eg, 8) AS e_g,
      |  round(g / eg, 6) AS g_ratio,
      |  CASE WHEN g > eg THEN 'high_clustering' ELSE 'dispersed_or_low' END AS verdict
      |FROM fin""".stripMargin

  /** C921 stat_join_count — black/white join-count statistics on the
    * torus: cells binarized at the exact grid median (GlobalRank over
    * the ≤1024-cell frame), edges counted once via the (+1,0)/(0,+1)
    * shifts (W = 2n torus edges), BB/WW/BW observed vs free-sampling
    * expectations E[BB] = W·p_B², E[BW] = 2W·p_B·p_W, with the Poisson
    * z for the BW discordance. The categorical cousin of Moran's I —
    * THE first test for "do hot cells touch hot cells".
    */
  def statJoinCount(s: SparkSession, d: String): DataFrame = {
    // the grid is O(1)-sized at ANY corpus scale (≤1024 cells): one
    // distributed corpus aggregate, then the torus walk on the
    // collected dictionary (the audited bounded-collect pattern) —
    // cheaper than any window/rank machinery on a 1024-row frame
    val cells = grid(s, d).select(col("cx"), col("cy"), col("v"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), BigInt(r.getDecimal(2).toBigInteger)))
    val n = cells.length.toLong
    val sorted = cells.sortBy { case ((cx, cy), v) => (v, cx, cy) }
    val gm = sorted(math.ceil(n / 2.0).toInt - 1)._2
    val hot = cells.map { case (k, v) => k -> (if (v > gm) 1L else 0L) }.toMap
    var (w, bb, ww, bw) = (0L, 0L, 0L, 0L)
    hot.foreach { case ((cx, cy), h) =>
      Seq(((cx + 1) % 32, cy), (cx, (cy + 1) % 32)).foreach { k2 =>
        hot.get(k2).foreach { h2 =>
          w += 1
          if (h == 1 && h2 == 1) bb += 1
          else if (h == 0 && h2 == 0) ww += 1
          else bw += 1
        }
      }
    }
    val nb = hot.values.sum
    import s.implicits._
    Seq((n, w, bb, ww, bw, nb)).toDF("n", "w", "bb", "ww", "bw", "nb")
      .selectExpr("n AS n_cells", "w AS n_edges", "bb", "ww", "bw",
        """round(CAST(w AS DOUBLE) * nb / n * nb / n, 4) AS e_bb""",
        """round(CAST(2 AS DOUBLE) * w * nb / n * (n - nb) / n, 4) AS e_bw""",
        """round((bw - CAST(2 AS DOUBLE) * w * nb / n * (n - nb) / n)
          |/ sqrt(CAST(2 AS DOUBLE) * w * nb / n * (n - nb) / n), 4) AS z_bw""".stripMargin)
  }
  val statJoinCountSql: String =
    s"""WITH $gridSql,
      |ranked AS (
      |  SELECT v, CAST(row_number() OVER (ORDER BY v, cx, cy) AS BIGINT) AS rn,
      |    count(*) OVER () AS nn
      |  FROM grid),
      |med AS (
      |  SELECT max(v) AS gm FROM ranked
      |  WHERE rn = CAST(ceil(CAST(nn AS DOUBLE) / 2) AS BIGINT)),
      |b AS (
      |  SELECT cx, cy, CASE WHEN v > gm THEN 1 ELSE 0 END AS hot FROM grid, med),
      |sh AS (
      |  SELECT (cx + 1) % 32 AS cx, cy, hot AS h2 FROM b
      |  UNION ALL
      |  SELECT cx, (cy + 1) % 32 AS cy, hot AS h2 FROM b),
      |edges AS (SELECT b.hot, sh.h2 FROM b JOIN sh ON b.cx = sh.cx AND b.cy = sh.cy),
      |cnts AS (
      |  SELECT CAST(count(*) AS BIGINT) AS w,
      |    CAST(sum(CASE WHEN hot = 1 AND h2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bb,
      |    CAST(sum(CASE WHEN hot = 0 AND h2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ww,
      |    CAST(sum(CASE WHEN hot <> h2 THEN 1 ELSE 0 END) AS BIGINT) AS bw
      |  FROM edges),
      |pb AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(hot) AS BIGINT) AS nb FROM b)
      |SELECT n AS n_cells, w AS n_edges, bb, ww, bw,
      |  round(CAST(w AS DOUBLE) * nb / n * nb / n, 4) AS e_bb,
      |  round(CAST(2 AS DOUBLE) * w * nb / n * (n - nb) / n, 4) AS e_bw,
      |  round((bw - CAST(2 AS DOUBLE) * w * nb / n * (n - nb) / n)
      |  / sqrt(CAST(2 AS DOUBLE) * w * nb / n * (n - nb) / n), 4) AS z_bw
      |FROM cnts, pb""".stripMargin

  /** C922 stat_knox_spacetime — the Knox test for space-time
    * interaction on the event stream: close-in-space = same 16-cell
    * user hash, close-in-time = same hour; X = Σ_cells×hours C(n,2)
    * observed close-close pairs vs E[X] = S·T / C(N,2) under
    * independence, z by the Poisson approximation. Everything from
    * three histograms — the O(n²) pair definition computed with ZERO
    * pair enumeration. The outbreak-detection classic.
    */
  def statKnoxSpacetime(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d).select(
      expr("pmod(conv(substring(md5(CAST(user_id AS STRING)), 1, 4), 16, 10), 16)")
        .cast("long").as("cell"),
      expr("date_trunc('hour', ts)").as("h"))
    def pairs(dfCols: Seq[String], alias: String) =
      e.groupBy(dfCols.map(col): _*)
        .agg(count(lit(1)).cast("long").as("c"))
        .agg(sum(expr("c * (c - 1) div 2")).cast("decimal(38,0)").as(alias))
    val x = pairs(Seq("cell", "h"), "x")
    val sp = pairs(Seq("cell"), "s")
    val tm = pairs(Seq("h"), "t")
    val n = e.agg(count(lit(1)).cast("long").as("n"))
    x.crossJoin(broadcast(sp)).crossJoin(broadcast(tm)).crossJoin(broadcast(n))
      .selectExpr("n AS n_events", "CAST(x AS BIGINT) AS close_pairs",
        "CAST(s AS BIGINT) AS space_close", "CAST(t AS BIGINT) AS time_close",
        """round(CAST(s AS DOUBLE) * CAST(t AS DOUBLE)
          |/ (CAST(n AS DOUBLE) * (n - 1) / 2), 4) AS e_x""".stripMargin,
        """round((CAST(x AS DOUBLE) - CAST(s AS DOUBLE) * CAST(t AS DOUBLE)
          |  / (CAST(n AS DOUBLE) * (n - 1) / 2))
          |/ sqrt(CAST(s AS DOUBLE) * CAST(t AS DOUBLE)
          |  / (CAST(n AS DOUBLE) * (n - 1) / 2)), 4) AS z_knox""".stripMargin)
  }
  val statKnoxSpacetimeSql: String =
    """WITH e AS (
      |  SELECT CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4) AS BIGINT) % 16 AS BIGINT) AS cell,
      |    date_trunc('hour', ts) AS h
      |  FROM events),
      |x AS (
      |  SELECT CAST(sum(c * (c - 1) // 2) AS DECIMAL(38,0)) AS x FROM (
      |    SELECT CAST(count(*) AS BIGINT) AS c FROM e GROUP BY cell, h)),
      |sp AS (
      |  SELECT CAST(sum(c * (c - 1) // 2) AS DECIMAL(38,0)) AS s FROM (
      |    SELECT CAST(count(*) AS BIGINT) AS c FROM e GROUP BY cell)),
      |tm AS (
      |  SELECT CAST(sum(c * (c - 1) // 2) AS DECIMAL(38,0)) AS t FROM (
      |    SELECT CAST(count(*) AS BIGINT) AS c FROM e GROUP BY h)),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e)
      |SELECT n AS n_events, CAST(x AS BIGINT) AS close_pairs,
      |  CAST(s AS BIGINT) AS space_close, CAST(t AS BIGINT) AS time_close,
      |  round(CAST(s AS DOUBLE) * CAST(t AS DOUBLE)
      |  / (CAST(n AS DOUBLE) * (n - 1) / 2), 4) AS e_x,
      |  round((CAST(x AS DOUBLE) - CAST(s AS DOUBLE) * CAST(t AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * (n - 1) / 2))
      |  / sqrt(CAST(s AS DOUBLE) * CAST(t AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * (n - 1) / 2)), 4) AS z_knox
      |FROM x, sp, tm, nn""".stripMargin

  /** C923 stat_ripley_k — Ripley's K on the lattice (Chebyshev rings
    * r = 1, 2) for the customer point pattern: K(r) = A·P(r)/n² with
    * P(r) = Σ same-or-neighbor-cell point pairs within the (2r+1)²
    * torus neighborhood (offset explode + equi-join on the ≤1024-cell
    * count histogram — no point pairs), against the CSR expectation
    * K_csr(r) = (2r+1)² (lattice convention, documented). K/K_csr > 1
    * ⇔ aggregation at that scale; the multi-scale clustering profile.
    */
  def statRipleyK(s: SparkSession, d: String): DataFrame = {
    val g = grid(s, d).select(col("cx"), col("cy"), col("npts"))
    val n = g.agg(sum(col("npts")).cast("long").as("n"),
      count(lit(1)).cast("long").as("ncells"))
    def ring(r: Int, alias: String) = {
      val offs = (-r to r).flatMap(dx => (-r to r).map(dy => s"named_struct('dx', ${dx}L, 'dy', ${dy}L)"))
        .mkString("array(", ", ", ")")
      val shifted = g.select(explode(expr(offs)).as("o"), col("cx"), col("cy"), col("npts"))
        .select(expr("pmod(cx + o.dx, 32)").as("cx"), expr("pmod(cy + o.dy, 32)").as("cy"),
          col("npts").as("np2"),
          expr("CASE WHEN o.dx = 0 AND o.dy = 0 THEN 1L ELSE 0L END").as("self"))
      g.join(shifted, Seq("cx", "cy"))
        .agg(sum(expr("CAST(npts AS DECIMAL(38,0)) * np2 - CASE WHEN self = 1 THEN CAST(npts AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END"))
          .cast("decimal(38,0)").as(alias))
    }
    ring(1, "p1").crossJoin(broadcast(ring(2, "p2"))).crossJoin(broadcast(n))
      .selectExpr("n AS n_points",
        "round(1024 * CAST(p1 AS DOUBLE) / (CAST(n AS DOUBLE) * n), 6) AS k1",
        "round(1024 * CAST(p2 AS DOUBLE) / (CAST(n AS DOUBLE) * n), 6) AS k2",
        "round(1024 * CAST(p1 AS DOUBLE) / (CAST(n AS DOUBLE) * n) / 9, 6) AS k1_csr_ratio",
        "round(1024 * CAST(p2 AS DOUBLE) / (CAST(n AS DOUBLE) * n) / 25, 6) AS k2_csr_ratio")
  }
  val statRipleyKSql: String = {
    def ringSql(r: Int, alias: String): String = {
      val offs = (-r to r).flatMap(dx => (-r to r).map(dy => s"($dx, $dy)")).mkString(", ")
      s"""$alias AS (
        |  SELECT CAST(sum(CAST(g.npts AS HUGEINT) * s.np2
        |    - CASE WHEN s.self = 1 THEN CAST(g.npts AS HUGEINT) ELSE CAST(0 AS HUGEINT) END) AS DECIMAL(38,0)) AS $alias
        |  FROM grid g JOIN (
        |    SELECT (cx + dx + 64) % 32 AS cx, (cy + dy + 64) % 32 AS cy, npts AS np2,
        |      CASE WHEN dx = 0 AND dy = 0 THEN 1 ELSE 0 END AS self
        |    FROM grid, (VALUES $offs) AS o(dx, dy)) s
        |  ON g.cx = s.cx AND g.cy = s.cy)""".stripMargin
    }
    s"""WITH $gridSql,
      |${ringSql(1, "p1")},
      |${ringSql(2, "p2")},
      |nn AS (SELECT CAST(sum(npts) AS BIGINT) AS n FROM grid)
      |SELECT n AS n_points,
      |  round(1024 * CAST(p1 AS DOUBLE) / (CAST(n AS DOUBLE) * n), 6) AS k1,
      |  round(1024 * CAST(p2 AS DOUBLE) / (CAST(n AS DOUBLE) * n), 6) AS k2,
      |  round(1024 * CAST(p1 AS DOUBLE) / (CAST(n AS DOUBLE) * n) / 9, 6) AS k1_csr_ratio,
      |  round(1024 * CAST(p2 AS DOUBLE) / (CAST(n AS DOUBLE) * n) / 25, 6) AS k2_csr_ratio
      |FROM p1, p2, nn""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stat_getis_ord_g" -> (statGetisOrdG _),
    "stat_join_count" -> (statJoinCount _),
    "stat_knox_spacetime" -> (statKnoxSpacetime _),
    "stat_ripley_k" -> (statRipleyK _),
  )

  val oracle: Map[String, String] = Map(
    "stat_getis_ord_g" -> statGetisOrdGSql,
    "stat_join_count" -> statJoinCountSql,
    "stat_knox_spacetime" -> statKnoxSpacetimeSql,
    "stat_ripley_k" -> statRipleyKSql,
  )
}
