package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fifty-fourth wave — the polygon `region` branch of the composite
  * front door (round-5 verdict Missing #1): the reference's
  * find_datasets accepts arbitrary polygons, not just bboxes (UPSTREAM
  * `ocdb/ws/controllers/datasets.py` → the `$geoWithin` polygon branch,
  * SURVEY §2-A A8). C12's codegen'd ray-casting exists; this row
  * composes it into the full request plan.
  */
object Extras54 {

  /** Convex CCW pentagon with .005/.505 vertex offsets. The synthesized
    * meta coordinates are exact 2-decimal values, so no data point can
    * lie on an edge (verified by exhaustive cross-product check at
    * sf0.001/0.01/0.1: zero boundary hits) — the engine's ray-casting
    * and the oracle's half-plane formulation therefore agree exactly.
    */
  private val pentagon = Seq(
    (-150.005, -70.505), (150.005, -70.505), (90.005, 60.505),
    (0.005, 85.505), (-90.005, 60.505))

  /** ref_dataset_query_polygon — find_datasets with a POLYGON region:
    * DSL expr (text term riding the inverted index, n_chars range
    * pushed to the scan) + polygon containment + status enums +
    * offset/count pagination with total_count, in ONE plan.
    *
    * Polygon shape at scale: [[graft.functions.GeoOps.inPolygon]] is a
    * bbox PREFILTER (min/max of the vertices — scan-pushable range
    * predicates on lon/lat) AND the exact codegen'd
    * [[graft.functions.PointInPolygon]] ray-cast on the survivors —
    * the standard cheap-reject/exact-verify split, so the O(|vertices|)
    * test runs only on the bbox hits. Pagination is the two-pass
    * range-partitioned [[graft.plans.GlobalRank]] — no
    * single-partition window. The oracle re-derives containment with
    * half-plane sign tests (valid for a convex polygon): two
    * independent geometric formulations agreeing exactly.
    */
  def refDatasetQueryPolygon(s: SparkSession, d: String): DataFrame = {
    RefSurface.enableTextIndex(s, d)
    val meta = Extras52.datasetMeta(s, d)
    val filtered = meta
      .filter(graft.functions.QueryDsl.predicate(
        meta, "merge AND n_chars:[100 TO 450]", Seq("text")))
      .filter(graft.functions.GeoOps.inPolygon(col("lon"), col("lat"), pentagon))
      .filter(col("status").isin("PUBLISHED", "VALIDATED"))
      .select("doc_id", "lang", "lon", "lat", "status")
    graft.plans.GlobalRank.withGlobalRowNumberAndTotal(
        filtered, "rn", "total_count", Seq(col("doc_id").asc))
      .filter(col("rn") > 5 && col("rn") <= 25)
      .select(col("doc_id"), col("lang"), col("lon"), col("lat"),
        col("status"), col("rn"), col("total_count"))
      .orderBy("rn")
  }
  val refDatasetQueryPolygonSql: String = {
    // half-plane membership for the CCW convex pentagon: inside iff
    // every edge's cross product has one sign (strict — boundary-free
    // by the vertex-offset construction above)
    def cross(ax: Double, ay: Double, bx: Double, by: Double) =
      s"(($bx - $ax) * (lat - $ay) - (($by) - ($ay)) * (lon - $ax))"
    val edges = pentagon.indices.map { i =>
      val (ax, ay) = pentagon(i)
      val (bx, by) = pentagon((i + 1) % pentagon.size)
      cross(ax, ay, bx, by)
    }
    val allPos = edges.map(e => s"$e > 0").mkString(" AND ")
    val allNeg = edges.map(e => s"$e < 0").mkString(" AND ")
    s"""WITH meta AS (
       |  SELECT doc_id, lang, text, n_chars,
       |    CAST(doc_id * 7919 % 36000 AS DOUBLE) / 100.0 - 180.0 AS lon,
       |    CAST(doc_id * 4409 % 18000 AS DOUBLE) / 100.0 - 90.0 AS lat,
       |    CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'PUBLISHED' WHEN 1 THEN 'VALIDATED'
       |         WHEN 2 THEN 'SUBMITTED' ELSE 'CANCELED' END AS status
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, lang, lon, lat, status FROM meta
       |  WHERE lower(text) LIKE '%merge%' AND n_chars BETWEEN 100 AND 450
       |    AND (($allPos) OR ($allNeg))
       |    AND status IN ('PUBLISHED', 'VALIDATED')),
       |p AS (
       |  SELECT doc_id, lang, lon, lat, status,
       |    row_number() OVER (ORDER BY doc_id) AS rn,
       |    count(*) OVER () AS total_count
       |  FROM f)
       |SELECT doc_id, lang, lon, lat, status, rn, total_count
       |FROM p WHERE rn > 5 AND rn <= 25 ORDER BY rn""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ref_dataset_query_polygon" -> (refDatasetQueryPolygon _))

  val oracle: Map[String, String] = Map(
    "ref_dataset_query_polygon" -> refDatasetQueryPolygonSql)
}
