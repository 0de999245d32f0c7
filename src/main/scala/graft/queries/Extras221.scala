package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Wave 121 (C888–C891): customer equity + structural trend + hubness
  * correction + sketch compression — geometric-retention CLV, the
  * segmented (4-piece) trend, CSLS re-ranked retrieval, and b-bit
  * minhash with its collision-corrected Jaccard estimator.
  *
  * Shared discipline: retention and margin are ratios of exact integer
  * counts; the trend fits 4 calendar-bounded segments from exact
  * moments; CSLS runs on the probe-bounded exact-dot frame with ×10
  * cleared rationals; b-bit signatures are md5-derived so BOTH engines
  * replay them bit-for-bit.
  */
object Extras221 {

  /** C888 analytics_clv_geometric — customer lifetime value under the
    * geometric-retention model: monthly retention r̂ = (active month
    * m AND m+1) / (active m < last month) — both counts exact from ONE
    * distinct (customer, month) frame and its shifted self-join —
    * average monthly margin per active customer-month from exact cent
    * sums, CLV = m̄·(1+d)/(1+d−r̂) at d = 1%/month. The classic
    * marketing-equity figure, assembled from corpus-exact pieces.
    */
  def analyticsClvGeometric(s: SparkSession, d: String): DataFrame = {
    val act = orders(s, d)
      .select(col("o_custkey").as("ck"),
        expr("CAST(date_trunc('month', o_orderdate) AS DATE)").as("m"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)").as("cv"))
    val cm = act.groupBy("ck", "m")
      .agg(sum(col("cv")).cast("long").as("rev"))
    val mx = cm.agg(max(col("m")).as("mmax"))
    // a (ck, m) row "retains" if (ck, m+1) is also active; only months
    // strictly before the last observed month count as opportunities
    val trans = cm
      .join(cm.select(col("ck"),
        expr("add_months(m, -1)").as("m"), lit(1L).as("nx")).distinct(),
        Seq("ck", "m"), "left")
      .crossJoin(broadcast(mx))
      .filter(col("m") < col("mmax"))
      .agg(count(lit(1)).cast("long").as("opp"),
        sum(coalesce(col("nx"), lit(0L))).cast("long").as("ret"))
    val marg = cm.agg(count(lit(1)).cast("long").as("ncm"),
      sum(col("rev")).cast("decimal(38,0)").as("srev"))
    trans.crossJoin(broadcast(marg))
      .selectExpr("ncm AS n_cust_months", "opp AS n_opportunities",
        "round(CAST(ret AS DOUBLE) / opp, 6) AS retention",
        "round(CAST(srev AS DOUBLE) / ncm / 100, 2) AS monthly_margin",
        """round(CAST(srev AS DOUBLE) / ncm / 100 * (1 + 0.01)
          |/ (1 + 0.01 - CAST(ret AS DOUBLE) / opp), 2) AS clv_dollars""".stripMargin)
  }
  val analyticsClvGeometricSql: String =
    """WITH cm AS (
      |  SELECT o_custkey AS ck, CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
      |  FROM orders GROUP BY 1, 2),
      |mx AS (SELECT max(m) AS mmax FROM cm),
      |tr AS (
      |  SELECT CAST(count(*) AS BIGINT) AS opp,
      |    CAST(sum(CASE WHEN EXISTS (
      |      SELECT 1 FROM cm n
      |      WHERE n.ck = cm.ck AND n.m = cm.m + INTERVAL 1 MONTH)
      |      THEN 1 ELSE 0 END) AS BIGINT) AS ret
      |  FROM cm, mx WHERE cm.m < mx.mmax),
      |mg AS (
      |  SELECT CAST(count(*) AS BIGINT) AS ncm,
      |    CAST(sum(rev) AS DECIMAL(38,0)) AS srev
      |  FROM cm)
      |SELECT mg.ncm AS n_cust_months, tr.opp AS n_opportunities,
      |  round(CAST(tr.ret AS DOUBLE) / tr.opp, 6) AS retention,
      |  round(CAST(mg.srev AS DOUBLE) / mg.ncm / 100, 2) AS monthly_margin,
      |  round(CAST(mg.srev AS DOUBLE) / mg.ncm / 100 * (1 + 0.01)
      |    / (1 + 0.01 - CAST(tr.ret AS DOUBLE) / tr.opp), 2) AS clv_dollars
      |FROM tr, mg""".stripMargin

  /** C889 time_segmented_trend — the 4-piece segmented trend of
    * monthly revenue: month indices off the bounded calendar frame,
    * segment = ⌊4t/n⌋ clamped (provably ≤4 keys), per-segment OLS
    * slope from exact integer moments (Σt, Σt², Σv, Σtv in
    * DECIMAL cents). The structural-change companion to
    * `stat_chow_break`: Chow TESTS one break, this FITS the piecewise
    * trend an analyst actually plots.
    */
  def timeSegmentedTrend(s: SparkSession, d: String): DataFrame = {
    val ms = orders(s, d)
      .groupBy(expr("date_trunc('month', o_orderdate)").as("m"))
      .agg(sum(expr("CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)"))
        .cast("long").as("v"))
    // calendar-bounded monthly frame: single-task window instead of
    // the two-pass machinery (r14; plan-gate legal via date_trunc)
    val idx = graft.plans.BoundedPrefix
      .rowNumberAndTotal(ms, "rn", "nn", Seq(col("m").asc))
      .select((col("rn") - 1).as("t"), col("nn"), col("v"))
      .withColumn("seg", expr("least(t * 4 div nn, 3L)"))
    idx.groupBy("seg")
      .agg(count(lit(1)).cast("long").as("k"),
        min(col("t")).as("t0"), max(col("t")).as("t1"),
        sum(col("t")).cast("decimal(38,0)").as("st"),
        sum(expr("CAST(t AS DECIMAL(38,0)) * t")).cast("decimal(38,0)").as("stt"),
        sum(col("v")).cast("decimal(38,0)").as("sv"),
        sum(expr("CAST(v AS DECIMAL(38,0)) * t")).cast("decimal(38,0)").as("stv"))
      .selectExpr("seg", "k", "t0", "t1",
        """round((CAST(k AS DOUBLE) * CAST(stv AS DOUBLE)
          | - CAST(st AS DOUBLE) * CAST(sv AS DOUBLE))
          |/ (CAST(k AS DOUBLE) * CAST(stt AS DOUBLE)
          |   - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) / 100, 4)
          |AS slope_dollars_per_month""".stripMargin,
        "round(CAST(sv AS DOUBLE) / k / 100, 2) AS mean_dollars")
      .orderBy("seg")
  }
  val timeSegmentedTrendSql: String =
    """WITH ms AS (
      |  SELECT date_trunc('month', o_orderdate) AS m,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)) AS BIGINT) AS v
      |  FROM orders GROUP BY 1),
      |idx AS (
      |  SELECT CAST(row_number() OVER (ORDER BY m) - 1 AS BIGINT) AS t,
      |    count(*) OVER () AS nn, v
      |  FROM ms),
      |sg AS (SELECT least(t * 4 // nn, 3) AS seg, t, v FROM idx)
      |SELECT seg, CAST(count(*) AS BIGINT) AS k,
      |  CAST(min(t) AS BIGINT) AS t0, CAST(max(t) AS BIGINT) AS t1,
      |  round((CAST(count(*) AS DOUBLE) * CAST(CAST(sum(CAST(v AS HUGEINT) * t) AS HUGEINT) AS DOUBLE)
      |    - CAST(CAST(sum(t) AS HUGEINT) AS DOUBLE) * CAST(CAST(sum(v) AS HUGEINT) AS DOUBLE))
      |  / (CAST(count(*) AS DOUBLE) * CAST(CAST(sum(CAST(t AS HUGEINT) * t) AS HUGEINT) AS DOUBLE)
      |     - CAST(CAST(sum(t) AS HUGEINT) AS DOUBLE) * CAST(CAST(sum(t) AS HUGEINT) AS DOUBLE)) / 100, 4)
      |    AS slope_dollars_per_month,
      |  round(CAST(CAST(sum(v) AS HUGEINT) AS DOUBLE) / count(*) / 100, 2) AS mean_dollars
      |FROM sg GROUP BY seg ORDER BY seg""".stripMargin

  /** C890 embed_csls_retrieval — CSLS (cross-domain similarity local
    * scaling) re-ranking vs raw cosine for the 128-probe retrieval:
    * exact BIGINT dots on ·10⁶-quantized vectors, r(x) = mean top-10
    * similarity of each probe into the corpus, r(y) = mean top-10 of
    * each corpus item into the PROBE set (both exact integer sums off
    * partitioned windows), CSLS = 2·cos − r(x) − r(y) cleared of
    * divisions (×10). Reports the top-1 agreement rate and the mean
    * hub score r(y) of the cosine winners vs the corpus — the MUSE
    * hubness correction that keeps nearest-neighbor retrieval from
    * always returning the same hub vectors.
    */
  def embedCslsRetrieval(s: SparkSession, d: String): DataFrame = {
    val q = embeddings(s, d).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT))").as("qv"))
      // own-norm hoisted per vector (not per pair): feeds the exact
      // derived dot below
      .withColumn("nv", expr("aggregate(transform(qv, a -> a * a), 0L, (acc, x) -> acc + x)"))
    val probes = q.filter(col("vec_id") < 100)
      .select(col("vec_id").as("pid"), col("qv").as("pv"), col("nv").as("np"))
      .limit(128)
    val db = q.filter(col("vec_id") >= 100)
    // r14: codegen'd exact squared distance + exact derived dot
    // Σab = (Σa² + Σb² − Σ(a−b)²)/2 (even numerator, long-exact) —
    // bit-identical to the interpreted zip_with fold (guide §4)
    val pairs = db.crossJoin(broadcast(probes))
      .select(col("pid"), col("vec_id"),
        expr(s"(nv + np - ${graft.functions.QuantSqDist.name}(qv, pv)) div 2").as("dq"))
    val wP = org.apache.spark.sql.expressions.Window
      .partitionBy("pid").orderBy(col("dq").desc, col("vec_id").asc)
    val wY = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("dq").desc, col("pid").asc)
    val rx = pairs.withColumn("r", row_number().over(wP)).filter(col("r") <= 10)
      .groupBy("pid").agg(sum(col("dq")).cast("long").as("s10x"))
    val ry = pairs.withColumn("r", row_number().over(wY)).filter(col("r") <= 10)
      .groupBy("vec_id").agg(sum(col("dq")).cast("long").as("s10y"),
        count(lit(1)).cast("long").as("ky"))
    val scored = pairs
      .join(broadcast(rx), "pid")
      .join(ry, "vec_id")
      .withColumn("c10", expr("20 * dq - s10x - s10y"))
    val topCos = scored.withColumn("r", row_number().over(wP)).filter(col("r") === 1)
      .select(col("pid"), col("vec_id").as("cos1"),
        expr("CAST(s10y AS DOUBLE) / ky").as("ry_cos1"))
    val wC = org.apache.spark.sql.expressions.Window
      .partitionBy("pid").orderBy(col("c10").desc, col("vec_id").asc)
    val topCsls = scored.withColumn("r", row_number().over(wC)).filter(col("r") === 1)
      .select(col("pid"), col("vec_id").as("csls1"))
    val agree = topCos.join(topCsls, "pid")
      .agg(count(lit(1)).cast("long").as("n_probes"),
        sum(when(col("cos1") === col("csls1"), 1L).otherwise(0L))
          .cast("long").as("same"),
        sum(expr("CAST(floor(ry_cos1 + 0.5) AS BIGINT)")).cast("decimal(38,0)").as("sry1"))
    val dbHub = ry.agg(count(lit(1)).cast("long").as("n_db"),
      sum(expr("CAST(floor(CAST(s10y AS DOUBLE) / ky + 0.5) AS BIGINT)"))
        .cast("decimal(38,0)").as("sryd"))
    agree.crossJoin(broadcast(dbHub))
      .selectExpr("n_probes", "n_db",
        "round(CAST(same AS DOUBLE) / n_probes, 6) AS top1_agreement",
        "round(CAST(sry1 AS DOUBLE) / n_probes / 1e12, 6) AS mean_hub_cos_winners",
        "round(CAST(sryd AS DOUBLE) / n_db / 1e12, 6) AS mean_hub_corpus")
  }
  val embedCslsRetrievalSql: String =
    """WITH q AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS qv
      |  FROM embeddings),
      |probes AS (SELECT vec_id AS pid, qv AS pv FROM q WHERE vec_id < 100),
      |db AS (SELECT vec_id, qv FROM q WHERE vec_id >= 100),
      |pairs AS (
      |  SELECT p.pid, d.vec_id,
      |    CAST(list_sum(list_transform(list_zip(d.qv, p.pv),
      |      z -> z[1] * z[2])) AS BIGINT) AS dq
      |  FROM db d, probes p),
      |rx AS (
      |  SELECT pid, CAST(sum(dq) AS BIGINT) AS s10x FROM (
      |    SELECT pid, dq,
      |      row_number() OVER (PARTITION BY pid ORDER BY dq DESC, vec_id ASC) AS r
      |    FROM pairs) WHERE r <= 10 GROUP BY 1),
      |ry AS (
      |  SELECT vec_id, CAST(sum(dq) AS BIGINT) AS s10y,
      |    CAST(count(*) AS BIGINT) AS ky FROM (
      |    SELECT vec_id, dq,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY dq DESC, pid ASC) AS r
      |    FROM pairs) WHERE r <= 10 GROUP BY 1),
      |scored AS (
      |  SELECT pa.pid, pa.vec_id, pa.dq, rx.s10x, ry.s10y, ry.ky,
      |    20 * pa.dq - rx.s10x - ry.s10y AS c10
      |  FROM pairs pa JOIN rx ON pa.pid = rx.pid JOIN ry ON pa.vec_id = ry.vec_id),
      |topcos AS (
      |  SELECT pid, vec_id AS cos1, CAST(s10y AS DOUBLE) / ky AS ry_cos1 FROM (
      |    SELECT pid, vec_id, s10y, ky,
      |      row_number() OVER (PARTITION BY pid ORDER BY dq DESC, vec_id ASC) AS r
      |    FROM scored) WHERE r = 1),
      |topcsls AS (
      |  SELECT pid, vec_id AS csls1 FROM (
      |    SELECT pid, vec_id,
      |      row_number() OVER (PARTITION BY pid ORDER BY c10 DESC, vec_id ASC) AS r
      |    FROM scored) WHERE r = 1),
      |ag AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_probes,
      |    CAST(sum(CASE WHEN c.cos1 = l.csls1 THEN 1 ELSE 0 END) AS BIGINT) AS same,
      |    CAST(sum(CAST(floor(c.ry_cos1 + 0.5) AS HUGEINT)) AS DECIMAL(38,0)) AS sry1
      |  FROM topcos c JOIN topcsls l ON c.pid = l.pid),
      |dh AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_db,
      |    CAST(sum(CAST(floor(CAST(s10y AS DOUBLE) / ky + 0.5) AS HUGEINT)) AS DECIMAL(38,0)) AS sryd
      |  FROM ry)
      |SELECT ag.n_probes, dh.n_db,
      |  round(CAST(ag.same AS DOUBLE) / ag.n_probes, 6) AS top1_agreement,
      |  round(CAST(ag.sry1 AS DOUBLE) / ag.n_probes / 1e12, 6) AS mean_hub_cos_winners,
      |  round(CAST(dh.sryd AS DOUBLE) / dh.n_db / 1e12, 6) AS mean_hub_corpus
      |FROM ag, dh""".stripMargin

  /** C891 dedup_bbit_minhash — b-bit minhash (Li & König) with b = 2,
    * k = 16 md5-salted hash functions, so BOTH engines replay the
    * signatures bit-for-bit: per doc the 3-token shingle set, minhash
    * h_i = min over shingles of the salted md5 fraction, of which only
    * the LOWEST 2 BITS are kept (32-fold signature compression);
    * candidates from 4×4 banding on the FULL hashes; per candidate
    * pair the exact Jaccard, the full-hash estimate (agreement/16) and
    * the collision-corrected b-bit estimate Ĵ_b = (A − ¼)/(¾). Census:
    * both estimators' mean absolute error vs exact — what 2 bits per
    * hash actually costs in resolution.
    */
  def dedupBbitMinhash(s: SparkSession, d: String): DataFrame = {
    // r15: the signatures come straight off the raw text in ONE
    // digest-reusing kernel pass — no 16× explode, no
    // groupBy(doc_id, i) + collect_list exchanges, no shingle strings
    // built at all (guide §1.2 step 2 + §2.4; the exploded formulation
    // paid a generated row, a fresh MessageDigest, a hex round-trip
    // and a hash-aggregate probe per shingle×salt — measured ~7 s of
    // the row's ~10 s). Bit-identity argument (byte-span shingles,
    // idempotent min, identical salt bytes) in MinHashMd5x16Kernel's
    // scaladoc; kernel pass measured 0.9 s for the same signatures.
    // The tiny (doc_id, 16×long) result is pinned EAGERLY: with no
    // exchange in its subtree there is nothing for ReuseExchange to
    // anchor, and the banding self-join + two est joins would re-run
    // the kernel per reference (a LAZY pin races: concurrent consumer
    // jobs each recomputed the chain before any had materialized it).
    // The shingle-set side keeps the exploded collect_set shape — its
    // est consumers share the aggregate exchange as before.
    val sh = documents(s, d)
      .select(col("doc_id"), split(lower(col("text")), " ").as("a"))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(a) >= 3 THEN
          |  array_distinct(transform(sequence(1, size(a) - 2),
          |    i -> concat_ws(' ', element_at(a, i), element_at(a, i + 1), element_at(a, i + 2))))
          |ELSE array() END""".stripMargin)).as("sg"))
    val sigs = documents(s, d)
      .select(col("doc_id"),
        expr(s"${graft.functions.MinHashMd5x16.name}(text)").as("sig"))
      .filter(col("sig").isNotNull)
      .localCheckpoint(true)
    val shSets = sh.groupBy("doc_id")
      .agg(collect_set(col("sg")).as("ss"))
    val bands = sigs.select(col("doc_id"), explode(expr(
      """transform(sequence(0, 3), b -> concat_ws('|', CAST(b AS STRING),
        |  sig[b*4], sig[b*4+1], sig[b*4+2], sig[b*4+3]))""".stripMargin)).as("bk"))
    val cands = bands.select(col("bk"), col("doc_id").as("da"))
      .join(bands.select(col("bk"), col("doc_id").as("db")), Seq("bk"))
      .filter(col("da") < col("db")).select("da", "db").distinct()
    val est = cands
      .join(sigs.select(col("doc_id").as("da"), col("sig").as("siga")), "da")
      .join(sigs.select(col("doc_id").as("db"), col("sig").as("sigb")), "db")
      .join(shSets.select(col("doc_id").as("da"), col("ss").as("ssa")), "da")
      .join(shSets.select(col("doc_id").as("db"), col("ss").as("ssb")), "db")
      .select(col("da"), col("db"),
        expr("""aggregate(zip_with(siga, sigb, (x, y) ->
          |  CASE WHEN x = y THEN 1L ELSE 0L END), 0L, (a, b) -> a + b)""".stripMargin)
          .as("full_agree"),
        expr("""aggregate(zip_with(siga, sigb, (x, y) ->
          |  CASE WHEN CAST(x AS BIGINT) % 4 = CAST(y AS BIGINT) % 4 THEN 1L ELSE 0L END),
          |  0L, (a, b) -> a + b)""".stripMargin).as("bbit_agree"),
        (size(array_intersect(col("ssa"), col("ssb"))).cast("double") /
          size(array_union(col("ssa"), col("ssb")))).as("jx"))
      .select(col("jx"),
        expr("full_agree / 16.0D").as("jf"),
        expr("greatest((bbit_agree / 16.0D - 0.25) / 0.75, CAST(0 AS DOUBLE))").as("jb"))
      .select(
        expr("CAST(floor(abs(jf - jx) * 1e9 + 0.5) AS BIGINT)").as("ef"),
        expr("CAST(floor(abs(jb - jx) * 1e9 + 0.5) AS BIGINT)").as("eb"))
    est.agg(count(lit(1)).cast("long").as("n_pairs"),
        sum(col("ef")).cast("long").as("sef"),
        sum(col("eb")).cast("long").as("seb"))
      .selectExpr("n_pairs",
        "round(CAST(sef AS DOUBLE) / 1e9 / n_pairs, 6) AS mae_full16",
        "round(CAST(seb AS DOUBLE) / 1e9 / n_pairs, 6) AS mae_bbit2",
        "round(2.0D / 64, 6) AS bits_ratio")
  }
  val dedupBbitMinhashSql: String =
    """WITH sh AS (
      |  SELECT doc_id, unnest(list_distinct(sgs)) AS sg FROM (
      |    SELECT doc_id,
      |      CASE WHEN len(a) >= 3 THEN
      |        list_transform(generate_series(1, len(a) - 2),
      |          i -> a[i] || ' ' || a[i + 1] || ' ' || a[i + 2])
      |      ELSE [] END AS sgs
      |    FROM (SELECT doc_id, string_split(lower(text), ' ') AS a FROM documents))),
      |mins AS (
      |  SELECT doc_id, i,
      |    min(CAST('0x' || substr(md5('bb' || CAST(i AS VARCHAR) || ':' || sg), 1, 12) AS BIGINT)) AS hn
      |  FROM sh, (SELECT unnest(generate_series(0, 15)) AS i)
      |  GROUP BY 1, 2),
      |sigs AS (
      |  SELECT doc_id, list(hn ORDER BY i) AS sig FROM mins GROUP BY 1),
      |shs AS (SELECT doc_id, list(DISTINCT sg) AS ss FROM sh GROUP BY 1),
      |bands AS (
      |  SELECT s.doc_id,
      |    CAST(b.b AS VARCHAR) || '|' || CAST(s.sig[b.b*4+1] AS VARCHAR) || '|'
      |      || CAST(s.sig[b.b*4+2] AS VARCHAR) || '|' || CAST(s.sig[b.b*4+3] AS VARCHAR)
      |      || '|' || CAST(s.sig[b.b*4+4] AS VARCHAR) AS bk
      |  FROM sigs s, (SELECT unnest(generate_series(0, 3)) AS b) b),
      |cands AS (
      |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      |  FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id),
      |est AS (
      |  SELECT
      |    list_sum(list_transform(list_zip(sa.sig, sb.sig),
      |      z -> CASE WHEN z[1] = z[2] THEN 1 ELSE 0 END)) AS full_agree,
      |    list_sum(list_transform(list_zip(sa.sig, sb.sig),
      |      z -> CASE WHEN z[1] % 4 = z[2] % 4 THEN 1 ELSE 0 END)) AS bbit_agree,
      |    CAST(len(list_intersect(ha.ss, hb.ss)) AS DOUBLE)
      |      / (len(ha.ss) + len(hb.ss) - len(list_intersect(ha.ss, hb.ss))) AS jx
      |  FROM cands c
      |  JOIN sigs sa ON c.da = sa.doc_id
      |  JOIN sigs sb ON c.db = sb.doc_id
      |  JOIN shs ha ON c.da = ha.doc_id
      |  JOIN shs hb ON c.db = hb.doc_id),
      |er AS (
      |  SELECT
      |    CAST(floor(abs(full_agree / 16.0 - jx) * 1e9 + 0.5) AS BIGINT) AS ef,
      |    CAST(floor(abs(greatest((bbit_agree / 16.0 - 0.25) / 0.75, CAST(0 AS DOUBLE)) - jx) * 1e9 + 0.5) AS BIGINT) AS eb
      |  FROM est)
      |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
      |  round(CAST(CAST(sum(ef) AS HUGEINT) AS DOUBLE) / 1e9 / count(*), 6) AS mae_full16,
      |  round(CAST(CAST(sum(eb) AS HUGEINT) AS DOUBLE) / 1e9 / count(*), 6) AS mae_bbit2,
      |  round(2.0 / 64, 6) AS bits_ratio
      |FROM er""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "analytics_clv_geometric" -> (analyticsClvGeometric _),
    "time_segmented_trend" -> (timeSegmentedTrend _),
    "embed_csls_retrieval" -> (embedCslsRetrieval _),
    "dedup_bbit_minhash" -> (dedupBbitMinhash _),
  )

  val oracle: Map[String, String] = Map(
    "analytics_clv_geometric" -> analyticsClvGeometricSql,
    "time_segmented_trend" -> timeSegmentedTrendSql,
    "embed_csls_retrieval" -> embedCslsRetrievalSql,
    "dedup_bbit_minhash" -> dedupBbitMinhashSql,
  )
}
