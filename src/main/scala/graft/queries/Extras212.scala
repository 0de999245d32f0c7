package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** Wave 112 (C852–C855): vocabulary law fitting + content-defined
  * chunking + exact paired test + chain equilibrium — Zipf–Mandelbrot
  * grid fit, FastCDC-style chunk dedup, the exact-binomial McNemar
  * test on the ChunkedRange spine, and the Markov steady state.
  *
  * Shared discipline: vocabulary ranks ride GlobalRank (corpus-scale,
  * never a single-task window); CDC cut points are md5 window hashes
  * identical in both engines, with per-doc cut arrays bounded by
  * doc-length/64; the exact McNemar tail is an AGGREGATE over the
  * distributed ln-factorial spine (no O(n)-key window at all); the
  * steady-state recursion runs over the ≤4-state dictionary — Scala
  * loop here, recursive CTE there, identical arithmetic text.
  */
object Extras212 {

  /** C852 text_zipf_mandelbrot — the Zipf–Mandelbrot law fit
    * f(r) ∝ (r+q)^(−s): vocabulary ranked by GlobalRank (cnt desc,
    * term asc — corpus-scale, distributed), the q offset grid
    * {0,1,2,4,8,16} exploded per term, ·10⁹-quantized ln moments per
    * q, closed-form slope/R², best q by max R² (smallest-q
    * tie-break). q captures the flat head Zipf alone misses — the
    * vocabulary-sizing refinement over the C-line zipf_head row.
    */
  def textZipfMandelbrot(s: SparkSession, d: String): DataFrame = {
    val counts = documents(s, d)
      .select(explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term").agg(count(lit(1)).cast("long").as("cnt"))
    val ranked = graft.plans.GlobalRank
      .withGlobalRowNumber(counts, "rk", Seq(col("cnt").desc, col("term").asc))
    val pts = ranked
      .select(col("rk"), col("cnt"), explode(expr("array(0L, 1L, 2L, 4L, 8L, 16L)")).as("q"))
      .select(col("q"),
        expr("CAST(floor(ln(CAST(rk + q AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)").as("x"),
        expr("CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)").as("y"))
    val fits = pts.groupBy("q")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("x")).cast("decimal(38,0)").as("sx"),
        sum(col("y")).cast("decimal(38,0)").as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).cast("decimal(38,0)").as("sxx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).cast("decimal(38,0)").as("sxy"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).cast("decimal(38,0)").as("syy"))
      .selectExpr("q", "n",
        """-(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          |/ (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          |AS s_exp""".stripMargin,
        """pow(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE), 2)
          |/ ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          |   * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
          |AS r2""".stripMargin)
    fits.withColumn("rn", row_number().over(
        Window.orderBy(col("r2").desc, col("q").asc)))
      .filter(col("rn") === 1)
      .selectExpr("CAST(q AS BIGINT) AS q_best", "n AS vocab",
        "round(s_exp, 6) AS s_exponent", "round(r2, 6) AS r2")
  }
  val textZipfMandelbrotSql: String =
    """WITH counts AS (
      |  SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM (
      |    SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      |  WHERE strlen(term) > 0
      |  GROUP BY 1),
      |ranked AS (
      |  SELECT cnt, CAST(row_number() OVER (ORDER BY cnt DESC, term ASC) AS BIGINT) AS rk
      |  FROM counts),
      |pts AS (
      |  SELECT qs.q,
      |    CAST(floor(ln(CAST(r.rk + qs.q AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS x,
      |    CAST(floor(ln(CAST(r.cnt AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS y
      |  FROM ranked r CROSS JOIN (SELECT unnest([0, 1, 2, 4, 8, 16]) AS q) qs),
      |fits AS (
      |  SELECT q, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(x) AS DECIMAL(38,0)) AS sx, CAST(sum(y) AS DECIMAL(38,0)) AS sy,
      |    CAST(sum(CAST(x AS HUGEINT) * x) AS DECIMAL(38,0)) AS sxx,
      |    CAST(sum(CAST(x AS HUGEINT) * y) AS DECIMAL(38,0)) AS sxy,
      |    CAST(sum(CAST(y AS HUGEINT) * y) AS DECIMAL(38,0)) AS syy
      |  FROM pts GROUP BY 1),
      |ev AS (
      |  SELECT q, n,
      |    -(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS s_exp,
      |    pow(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE), 2)
      |    / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |       * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r2
      |  FROM fits),
      |best AS (
      |  SELECT *, row_number() OVER (ORDER BY r2 DESC, q ASC) AS rn FROM ev)
      |SELECT CAST(q AS BIGINT) AS q_best, n AS vocab,
      |  round(s_exp, 6) AS s_exponent, round(r2, 6) AS r2
      |FROM best WHERE rn = 1""".stripMargin

  /** C853 dedup_cdc_chunking — FastCDC-style content-defined chunking:
    * cut after position p whenever the 8-char window's md5 prefix ≡ 0
    * (mod 64) (expected chunk ≈ 64 chars — boundaries move WITH the
    * content, so an insertion only reshuffles its own chunk, the
    * property fixed-size chunking lacks). Per-doc cut arrays are
    * len/64-bounded lists; chunk identity = md5 of the substring;
    * reports chunk-level dedup ratio vs whole-doc dedup and the mean
    * chunk length. The delta-storage / incremental-dedup primitive.
    *
    * Scale note: the noised-sf1 exponent is ≈+1.0 BY DEFINITION —
    * content-defined chunking must hash every byte, so time is linear
    * in corpus bytes at fixed cores (local[32] is already saturated at
    * sf0.1; on a 1000-executor cluster the byte-scan partitions
    * embarrassingly). The constant was measured against per-position
    * Horner-polynomial variants in r12 (both HOF and explode forms):
    * the codegen md5-per-window shipped here is 3–4× FASTER than
    * either, so it stays.
    */
  def dedupCdcChunking(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d)
      .select(col("doc_id"), col("text"), length(col("text")).cast("long").as("len"))
    // r15: the gate positions used to ride an explode-per-character +
    // md5 expression + groupBy(doc_id) collect_list + left join back —
    // a generated row, a fresh MessageDigest, a hex round-trip and a
    // hash-aggregate probe PER CHARACTER of the corpus, plus an
    // exchange of every cut. graft_cdc_cuts computes the identical
    // ascending cut array in one digest-reusing pass per document (see
    // CdcCutsKernel for the bit-identity argument), so the whole cut
    // discovery now rides the scan with no shuffle at all (guide §1.2
    // per-task work; §2.4 remove shuffles outright).
    val chunks = base
      .withColumn("cl", expr(s"${graft.functions.CdcCuts.name}(text)"))
      .select(col("doc_id"), col("text"),
        explode(expr(
          """arrays_zip(concat(array(1L), transform(cl, c -> c + 1)),
            |           concat(cl, array(len)))""".stripMargin)).as("z"))
      .select(col("doc_id"), expr("z['0']").as("cs"), expr("z['1']").as("ce"), col("text"))
      .filter(col("ce") >= col("cs"))
      .select(col("doc_id"), expr("ce - cs + 1").as("clen"),
        expr("md5(substring(text, CAST(cs AS INT), CAST(ce - cs + 1 AS INT)))").as("h"))
    val tot = chunks.agg(count(lit(1)).cast("long").as("n_chunks"),
      sum(col("clen")).cast("long").as("total_len"))
    val dist = chunks.select("h").distinct().agg(count(lit(1)).cast("long").as("n_distinct"))
    val docDist = base.select(expr("md5(text)").as("dh")).distinct()
      .agg(count(lit(1)).cast("long").as("n_doc_distinct"))
    val nDocs = base.agg(count(lit(1)).cast("long").as("n_docs"))
    tot.crossJoin(broadcast(dist)).crossJoin(broadcast(docDist)).crossJoin(broadcast(nDocs))
      .selectExpr("n_docs", "n_chunks", "n_distinct",
        "round(CAST(total_len AS DOUBLE) / n_chunks, 4) AS mean_chunk_len",
        "round(1 - CAST(n_distinct AS DOUBLE) / n_chunks, 6) AS chunk_dedup_ratio",
        "round(1 - CAST(n_doc_distinct AS DOUBLE) / n_docs, 6) AS doc_dedup_ratio")
  }
  val dedupCdcChunkingSql: String =
    """WITH base AS (
      |  SELECT doc_id, text, CAST(strlen(text) AS BIGINT) AS len FROM documents),
      |cuts AS (
      |  SELECT doc_id, list(p ORDER BY p) AS cuts FROM (
      |    SELECT b.doc_id, ps.p
      |    FROM base b, LATERAL (SELECT unnest(generate_series(8, b.len)) AS p) ps
      |    WHERE CAST('0x' || substr(md5(substr(b.text, CAST(ps.p - 7 AS INT), 8)), 1, 4) AS BIGINT) % 64 = 0)
      |  GROUP BY 1),
      |withc AS (
      |  SELECT b.doc_id, b.text, b.len, coalesce(c.cuts, []) AS cl
      |  FROM base b LEFT JOIN cuts c ON c.doc_id = b.doc_id),
      |chunks AS (
      |  SELECT doc_id, ce - cs + 1 AS clen,
      |    md5(substr(text, CAST(cs AS INT), CAST(ce - cs + 1 AS INT))) AS h
      |  FROM (
      |    SELECT w.doc_id, w.text,
      |      (list_concat([CAST(1 AS BIGINT)], list_transform(w.cl, c -> c + 1)))[i.i] AS cs,
      |      (list_concat(w.cl, [w.len]))[i.i] AS ce
      |    FROM withc w,
      |      LATERAL (SELECT unnest(generate_series(1, len(w.cl) + 1)) AS i) i)
      |  WHERE ce >= cs),
      |tot AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_chunks,
      |    CAST(sum(clen) AS BIGINT) AS total_len
      |  FROM chunks),
      |dist AS (SELECT CAST(count(DISTINCT h) AS BIGINT) AS n_distinct FROM chunks),
      |docd AS (SELECT CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_doc_distinct FROM base),
      |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM base)
      |SELECT n_docs, n_chunks, n_distinct,
      |  round(CAST(total_len AS DOUBLE) / n_chunks, 4) AS mean_chunk_len,
      |  round(1 - CAST(n_distinct AS DOUBLE) / n_chunks, 6) AS chunk_dedup_ratio,
      |  round(1 - CAST(n_doc_distinct AS DOUBLE) / n_docs, 6) AS doc_dedup_ratio
      |FROM tot, dist, docd, nd""".stripMargin

  /** C854 stat_mcnemar_exact — the EXACT-binomial McNemar test (the
    * asymptotic C-line row's small-b+c-safe sibling) on paired
    * customer behavior: per-customer "ever placed a 1-URGENT order"
    * vs "ever placed a 5-LOW order" indicators, discordant counts
    * b/c, two-sided
    * p = min(1, 2·P(Bin(b+c, ½) ≤ min(b,c))). The binomial tail is an
    * AGGREGATE over the distributed ln-factorial spine (ChunkedRange +
    * GlobalRank — no O(n)-key window anywhere), terms ·10¹²-quantized.
    */
  def statMcnemarExact(s: SparkSession, d: String): DataFrame = {
    val per = orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(max(expr("CASE WHEN o_orderpriority = '1-URGENT' THEN 1L ELSE 0L END")).as("early"),
        max(expr("CASE WHEN o_orderpriority = '5-LOW' THEN 1L ELSE 0L END")).as("late"))
    val bc = per.agg(
      sum(expr("CASE WHEN early = 1 AND late = 0 THEN 1L ELSE 0L END")).cast("long").as("b"),
      sum(expr("CASE WHEN early = 0 AND late = 1 THEN 1L ELSE 0L END")).cast("long").as("c"))
      .withColumn("nn", expr("b + c"))
      .withColumn("mm", expr("least(b, c)"))
    val lf0 = graft.functions.ChunkedRange
      .explodeRange(bc.select(col("nn")), lit(0L), col("nn"), "i")
      .select(col("i"))
      .withColumn("lnq", expr(
        "CASE WHEN i < 2 THEN 0L ELSE CAST(floor(ln(CAST(i AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) END"))
    val lfc = graft.plans.GlobalRank
      .withExclusivePrefixSum(lf0, "lf0", col("lnq"), Seq(col("i").asc))
      .withColumn("lf", expr("lf0 + lnq"))
      .select(col("i"), col("lf"))
    val lfn = lfc.join(broadcast(bc), expr("i = nn")).agg(max(col("lf")).as("lfn"))
    val ks = graft.functions.ChunkedRange
      .explodeRange(bc.select(col("nn"), col("mm")), lit(0L), col("mm"), "k")
      .select(col("k"), col("nn"))
    val terms = ks
      .join(lfc.select(col("i").as("k"), col("lf").as("lfk")), Seq("k"))
      .join(lfc.select(col("i").as("knk"), col("lf").as("lfnk")),
        expr("knk = nn - k"))
      .crossJoin(broadcast(lfn))
      .select(expr(
        """CAST(floor(exp((CAST(lfn AS DOUBLE) - lfk - lfnk) / 1e6
          |- nn * ln(CAST(2 AS DOUBLE))) * 1e12 + 0.5) AS BIGINT)""".stripMargin).as("pq"))
    terms.agg(sum(col("pq")).cast("long").as("tailq"))
      .crossJoin(broadcast(bc))
      .selectExpr("b", "c",
        "round(least(1.0D, 2 * CAST(tailq AS DOUBLE) / 1e12), 6) AS p_exact")
      .selectExpr("b", "c", "p_exact", "p_exact < 0.05 AS reject_95")
  }
  val statMcnemarExactSql: String =
    """WITH per AS (
      |  SELECT o_custkey,
      |    max(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS early,
      |    max(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS late
      |  FROM orders GROUP BY 1),
      |bc AS (
      |  SELECT CAST(sum(CASE WHEN early = 1 AND late = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |    CAST(sum(CASE WHEN early = 0 AND late = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c
      |  FROM per),
      |bc2 AS (SELECT b, c, b + c AS nn, least(b, c) AS mm FROM bc),
      |lf0 AS (
      |  SELECT i, CASE WHEN i < 2 THEN 0
      |    ELSE CAST(floor(ln(CAST(i AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) END AS lnq
      |  FROM (SELECT unnest(generate_series(0, (SELECT CAST(nn AS BIGINT) FROM bc2))) AS i)),
      |lfc AS (
      |  SELECT i, CAST(sum(lnq) OVER (ORDER BY i
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS lf
      |  FROM lf0),
      |lfn AS (SELECT max(lf) AS lfn FROM lfc, bc2 WHERE lfc.i = bc2.nn),
      |terms AS (
      |  SELECT CAST(floor(exp((CAST(n.lfn AS DOUBLE) - a.lf - d.lf) / 1e6
      |    - q.nn * ln(CAST(2 AS DOUBLE))) * 1e12 + 0.5) AS BIGINT) AS pq
      |  FROM (SELECT unnest(generate_series(0, (SELECT CAST(mm AS BIGINT) FROM bc2))) AS k) ks
      |  JOIN bc2 q ON TRUE
      |  JOIN lfc a ON a.i = ks.k
      |  JOIN lfc d ON d.i = q.nn - ks.k, lfn n),
      |tail AS (SELECT CAST(sum(pq) AS BIGINT) AS tailq FROM terms)
      |SELECT q.b, q.c,
      |  round(least(1.0, 2 * CAST(t.tailq AS DOUBLE) / 1e12), 6) AS p_exact,
      |  round(least(1.0, 2 * CAST(t.tailq AS DOUBLE) / 1e12), 6) < 0.05 AS reject_95
      |FROM bc2 q, tail t""".stripMargin

  /** C855 analytics_markov_steady_state — the stationary distribution
    * of the C487 per-user event-type chain: the exact-count transition
    * matrix is a ≤4×4 bounded dictionary (collected driver-side — the
    * fleet's sanctioned pattern), power-iterated 64 steps from the
    * uniform start; the oracle replays the identical iteration as a
    * recursive CTE carrying the distribution list. Emits the steady
    * probability per state plus the final L1 step (convergence proof).
    */
  def analyticsMarkovSteadyState(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val pairs = events(s, d)
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("f"), col("next_type").as("t"))
      .agg(count(lit(1)).cast("long").as("n"))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
    val states = pairs.flatMap(p => Seq(p._1._1, p._1._2)).distinct.sorted
    val k = states.length
    val idx = states.zipWithIndex.toMap
    val counts = Array.ofDim[Long](k, k)
    pairs.foreach { case ((f, t), n) => counts(idx(f))(idx(t)) = n }
    val rowSum = counts.map(_.sum)
    val pm = Array.tabulate(k, k)((i, j) =>
      if (rowSum(i) == 0) 0.0 else counts(i)(j).toDouble / rowSum(i))
    var p = Array.fill(k)(1.0 / k)
    var l1 = 0.0
    for (_ <- 1 to 64) {
      val np = Array.tabulate(k) { j =>
        var acc = 0.0
        for (i <- 0 until k) acc += p(i) * pm(i)(j)
        acc
      }
      l1 = (0 until k).map(j => math.abs(np(j) - p(j))).sum
      p = np
    }
    import s.implicits._
    states.zipWithIndex.map { case (st, i) => (st, p(i), l1) }.toSeq
      .toDF("state", "p0", "l10")
      .selectExpr("state", "round(p0, 6) AS steady_prob", "round(l10, 9) AS last_l1_step")
      .orderBy("state")
  }
  val analyticsMarkovSteadyStateSql: String =
    """WITH RECURSIVE seq AS (
      |  SELECT event_type,
      |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |pairs AS (
      |  SELECT event_type AS f, next_type AS t, CAST(count(*) AS BIGINT) AS n
      |  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
      |snum AS (
      |  SELECT st, row_number() OVER (ORDER BY st) AS i FROM (
      |    SELECT DISTINCT st FROM (
      |      SELECT f AS st FROM pairs UNION SELECT t FROM pairs))),
      |rowsums AS (SELECT f, CAST(sum(n) AS DOUBLE) AS s FROM pairs GROUP BY 1),
      |rows_ AS (
      |  SELECT fr.i,
      |    list(CASE WHEN rs.s IS NULL THEN 0.0
      |         ELSE CAST(coalesce(p.n, 0) AS DOUBLE) / rs.s END ORDER BY t.i) AS rw
      |  FROM snum fr
      |  CROSS JOIN snum t
      |  LEFT JOIN pairs p ON p.f = fr.st AND p.t = t.st
      |  LEFT JOIN rowsums rs ON rs.f = fr.st
      |  GROUP BY 1),
      |mat AS (
      |  SELECT (SELECT list(rw ORDER BY i) FROM rows_) AS pm,
      |    (SELECT CAST(count(*) AS INT) FROM snum) AS k,
      |    (SELECT list(st ORDER BY i) FROM snum) AS sl),
      |rec AS (
      |  SELECT 0 AS it,
      |    list_transform(generate_series(1, m.k), j -> 1.0 / m.k) AS p,
      |    0.0 AS l1, m.pm AS pm, m.k AS k, m.sl AS sl
      |  FROM mat m
      |  UNION ALL
      |  SELECT r.it + 1,
      |    list_transform(generate_series(1, r.k), j ->
      |      list_reduce(list_transform(generate_series(1, r.k),
      |        i -> r.p[i] * r.pm[i][j]), (x, y) -> x + y)),
      |    list_reduce(list_transform(generate_series(1, r.k), j ->
      |      abs(list_reduce(list_transform(generate_series(1, r.k),
      |            i -> r.p[i] * r.pm[i][j]), (x, y) -> x + y) - r.p[j])),
      |      (x, y) -> x + y),
      |    r.pm, r.k, r.sl
      |  FROM rec r WHERE r.it < 64),
      |fin AS (SELECT * FROM rec ORDER BY it DESC LIMIT 1)
      |SELECT f.sl[u.i] AS state,
      |  round(f.p[u.i], 6) AS steady_prob,
      |  round(f.l1, 9) AS last_l1_step
      |FROM fin f, LATERAL (SELECT unnest(generate_series(1, f.k)) AS i) u
      |ORDER BY state""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_zipf_mandelbrot" -> (textZipfMandelbrot _),
    "dedup_cdc_chunking" -> (dedupCdcChunking _),
    "stat_mcnemar_exact" -> (statMcnemarExact _),
    "analytics_markov_steady_state" -> (analyticsMarkovSteadyState _),
  )

  val oracle: Map[String, String] = Map(
    "text_zipf_mandelbrot" -> textZipfMandelbrotSql,
    "dedup_cdc_chunking" -> dedupCdcChunkingSql,
    "stat_mcnemar_exact" -> statMcnemarExactSql,
    "analytics_markov_steady_state" -> analyticsMarkovSteadyStateSql,
  )
}
