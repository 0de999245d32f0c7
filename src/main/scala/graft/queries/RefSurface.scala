package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.{GeoOps, Validation}
import graft.sources.SbReader

/** The reference's ingest/validation/geo surface as graded queries
  * (SURVEY §2-A A1/A8/A15): SeaBASS file ingestion, the validation
  * rule engine, and geo bbox+polygon search — each with a DuckDB
  * oracle recomputing the same result relationally.
  */
object RefSurface {

  /** Stage a directory of synthetic `.sb` files derived from the
    * documents table (one file per language; fields doc_id,n_chars).
    * Fixture generation only — the graded operator is the parse-back.
    *
    * The files are assembled on EXECUTORS (repartition by lang; each
    * task writes the languages that hashed to it) — never an O(corpus)
    * driver collect; peak memory is one language's rows on one
    * executor, which is the irreducible cost of emitting a single
    * header-framed file per language. Same local-FS assumption as
    * [[refZipExport]]'s archive sink (documented there); the
    * production shape writes through a committed shared location.
    */
  private[graft] def stageSbDir(s: SparkSession, d: String): String = {
    import s.implicits._
    val dirStr = Scratch.dir("graft_sb_")
    documents(s, d)
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .as[(String, Long, Long)]
      .repartition(col("lang"))
      .mapPartitions { it =>
        val byLang = it.toArray.groupBy(_._1)
        byLang.foreach { case (lang, rows) =>
          val sb = new StringBuilder
          sb ++= "/begin_header\n"
          sb ++= "/investigators=graft_engine\n"
          sb ++= s"/cruise=corpus_$lang\n"
          sb ++= "/fields=doc_id,n_chars\n"
          sb ++= "/units=none,none\n"
          sb ++= "/delimiter=comma\n"
          sb ++= "/missing=-999\n"
          sb ++= "/end_header\n"
          rows.sortBy(_._2).foreach { case (_, id, nc) => sb ++= s"$id,$nc\n" }
          Files.writeString(
            java.nio.file.Paths.get(dirStr, s"corpus_$lang.sb"), sb.toString)
        }
        Iterator(byLang.size)
      }.collect() // sink commit: languages-per-task counts, not data
    dirStr
  }

  /** ref_seabass_ingest — parse the staged `.sb` files back through
    * the long/narrow reader and aggregate per field; the oracle
    * recomputes identical sums straight from documents. Exercises
    * header parse, delimiter handling, and numeric coercion.
    */
  def refSeabassIngest(s: SparkSession, d: String): DataFrame = {
    val dir = stageSbDir(s, d)
    SbReader.readLong(s, s"$dir/*.sb")
      .groupBy("field")
      .agg(
        count(lit(1)).as("n"),
        sum(col("value_num")).cast("double").as("sum_num"))
      .orderBy("field")
  }
  val refSeabassIngestSql: String =
    """SELECT 'doc_id' AS field, count(*) AS n, CAST(sum(doc_id) AS DOUBLE) AS sum_num
      |FROM documents
      |UNION ALL
      |SELECT 'n_chars' AS field, count(*) AS n, CAST(sum(n_chars) AS DOUBLE) AS sum_num
      |FROM documents
      |ORDER BY field""".stripMargin

  /** ref_validation_report — the A15 rule battery over a documents
    * projection, one aggregation pass for the whole config. The oracle
    * recomputes each rule's violation count as plain SQL.
    */
  def refValidationReport(s: SparkSession, d: String): DataFrame = {
    import Validation._
    val frame = documents(s, d).select(col("doc_id"), col("n_chars"), col("lang"))
    validate(frame, Seq(
      Required("doc_id"),
      Required("lang"),
      NumericRange("n_chars", 0, 400),
      LessOrEqual("doc_id", "n_chars"),
      Matches("lang", "^[a-z]{2}$")))
      .orderBy("rule")
  }
  val refValidationReportSql: String =
    """SELECT rule, severity, n_violations, n_rows,
      |  CASE WHEN n_violations = 0 THEN 'OK'
      |       WHEN severity = 'ERROR' THEN 'ERROR'
      |       ELSE 'WARNING' END AS status
      |FROM (
      |  SELECT 'required:doc_id' AS rule, 'ERROR' AS severity,
      |    count(*) FILTER (WHERE doc_id IS NULL) AS n_violations, count(*) AS n_rows FROM documents
      |  UNION ALL
      |  SELECT 'required:lang', 'ERROR',
      |    count(*) FILTER (WHERE lang IS NULL), count(*) FROM documents
      |  UNION ALL
      |  SELECT 'range:n_chars[0.0,400.0]', 'WARNING',
      |    count(*) FILTER (WHERE n_chars IS NOT NULL AND n_chars NOT BETWEEN 0 AND 400),
      |    count(*) FROM documents
      |  UNION ALL
      |  SELECT 'compare:doc_id<=n_chars', 'ERROR',
      |    count(*) FILTER (WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND doc_id > n_chars),
      |    count(*) FROM documents
      |  UNION ALL
      |  SELECT 'matches:lang~^[a-z]{2}$', 'WARNING',
      |    count(*) FILTER (WHERE lang IS NOT NULL AND NOT regexp_matches(lang, '^[a-z]{2}$')),
      |    count(*) FROM documents) t
      |ORDER BY rule""".stripMargin

  /** Synthetic lon/lat projection of events (the testdata has no geo
    * columns): lon from the 2-decimal value, lat from user_id — both
    * exact in double, identical in DuckDB.
    */
  private def geoEvents(s: SparkSession, d: String): DataFrame =
    events(s, d).select(
      col("event_id"),
      (col("value") % 360.0 - lit(180.0)).as("lon"),
      ((col("user_id") % 180).cast("double") - lit(90.0)).as("lat"))

  /** Triangle chosen so no (2-decimal lon, integer lat) point can lie
    * exactly on an edge — ray-cast and half-plane tests then agree
    * exactly (boundary-free equivalence).
    */
  private val tri = Seq((-120.005, -80.5), (120.005, -80.5), (0.005, 80.5))

  /** ref_geo_filter — A8: bbox prefilter + exact point-in-polygon via
    * the codegen'd ray-casting expression, counted per event bucket.
    * The DuckDB oracle proves the same membership with half-plane sign
    * tests (valid for a convex polygon) — two independent geometric
    * formulations agreeing exactly.
    */
  def refGeoFilter(s: SparkSession, d: String): DataFrame =
    geoEvents(s, d)
      .filter(GeoOps.inPolygon(col("lon"), col("lat"), tri))
      .select(col("event_id"), col("lon"), col("lat"))
      .orderBy("event_id")
  val refGeoFilterSql: String = {
    // half-plane test: for CCW triangle ABC, inside iff cross(AB,AP),
    // cross(BC,BP), cross(CA,CP) all share one sign
    def cross(ax: Double, ay: Double, bx: Double, by: Double) =
      s"(($bx - $ax) * (lat - $ay) - (($by) - ($ay)) * (lon - $ax))"
    val Seq((ax, ay), (bx, by), (cx, cy)) = tri
    val c1 = cross(ax, ay, bx, by)
    val c2 = cross(bx, by, cx, cy)
    val c3 = cross(cx, cy, ax, ay)
    s"""WITH g AS (
       |  SELECT event_id, value % 360.0 - 180.0 AS lon,
       |         CAST(user_id % 180 AS DOUBLE) - 90.0 AS lat
       |  FROM events)
       |SELECT event_id, lon, lat FROM g
       |WHERE ($c1 > 0 AND $c2 > 0 AND $c3 > 0)
       |   OR ($c1 < 0 AND $c2 < 0 AND $c3 < 0)
       |ORDER BY event_id""".stripMargin
  }

  /** store_merge_upsert — the A2 CRUD surface: seed a keyed Parquet
    * store with orders, MERGE in updates (a flat 25.50 surcharge on
    * urgent orders — decimal ADDITION, which is exact; a percentage
    * multiply lands every odd cent exactly on the .5 rounding
    * boundary, where Spark rounds HALF_UP and DuckDB half-to-even),
    * DELETE a status slice, read back an aggregate. The oracle
    * recomputes the final state relationally — proving upsert =
    * anti-join ∪ updates and delete = complement.
    */
  def storeMergeUpsert(s: SparkSession, d: String): DataFrame = {
    val path = Scratch.dir("graft_store_") + "/orders"
    val store = new graft.sources.DatasetStore(s, path, "o_orderkey")
    // project to the columns the exhibit reads before materializing:
    // the store writes its input verbatim, so pruning must be explicit
    val base = orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
    store.init(base)
    val updates = base.filter(col("o_orderpriority") === "1-URGENT")
      .withColumn("o_totalprice",
        (dec(col("o_totalprice")) + lit(25.50).cast(M)).cast("double"))
    store.upsert(updates)
    store.delete(col("o_orderstatus") === "P")
    store.read()
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("o_orderpriority")
  }
  val storeMergeUpsertSql: String =
    s"""SELECT o_orderpriority, count(*) AS n, ${dsumSql("o_totalprice")} AS total
       |FROM (
       |  SELECT o_orderkey, o_orderstatus, o_orderpriority,
    |    CASE WHEN o_orderpriority = '1-URGENT'
       |         THEN CAST(CAST(o_totalprice AS DECIMAL(14,2)) + CAST(25.50 AS DECIMAL(14,2)) AS DOUBLE)
       |         ELSE o_totalprice END AS o_totalprice
       |  FROM orders) t
       |WHERE o_orderstatus <> 'P'
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** page_offset_limit — the A13 pagination contract: a deterministic
    * total order, rows [20, 40) plus the total count as a column (the
    * reference returns total_count beside the page). The global row
    * number is the two-pass range-partitioned rank
    * ([[graft.plans.GlobalRank]]) — no single-partition window; the
    * total count rides in as a broadcast scalar. Deep offsets still
    * cost a full rank pass by definition — [[pageKeyset]] is the
    * constant-cost cursor form beside this.
    */
  def pageOffsetLimit(s: SparkSession, d: String): DataFrame = {
    val base = customer(s, d).select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    // total_count rides the rank pass's per-partition counts — no
    // second aggregation pass over the input just to count it
    graft.plans.GlobalRank.withGlobalRowNumberAndTotal(
        base, "rn", "total_count", Seq(col("c_acctbal").desc, col("c_custkey").asc))
      .filter(col("rn") > 20 && col("rn") <= 40)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("rn"), col("total_count"))
      .orderBy("rn")
  }
  val pageOffsetLimitSql: String =
    """SELECT c_custkey, c_name, c_acctbal, rn, total_count FROM (
      |  SELECT c_custkey, c_name, c_acctbal,
      |    row_number() OVER (ORDER BY c_acctbal DESC, c_custkey ASC) AS rn,
      |    count(*) OVER () AS total_count
      |  FROM customer) t
      |WHERE rn > 20 AND rn <= 40
      |ORDER BY rn""".stripMargin

  /** The product-group membership table (A11): group → attribute
    * names, the analogue of the reference's static product-groups
    * resource file. Broadcast-sized by construction at any corpus
    * scale (a config file, not data).
    */
  private val productGroups: Seq[(String, Seq[String])] = Seq(
    "joins" -> Seq("join", "merge", "broadcast", "probe"),
    "storage" -> Seq("parquet", "disk", "memory", "spill"),
    "exec" -> Seq("scan", "aggregation", "exchange", "codegen"))

  /** ref_product_groups — A11 pgroup membership: which documents carry
    * attributes of which product groups. The per-doc attribute list is
    * its distinct token set; membership is an equi-join of exploded
    * tokens against the broadcast (group, attr) table — the shape that
    * replaces arrays_overlap at scale (narrow explode, broadcast hash
    * join on the token, per-doc re-aggregation; the fact side shuffles
    * once on doc_id with map-side combine). Output publishes the
    * matched group set as a sorted CSV string (R4: scalar columns).
    */
  def refProductGroups(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ga = productGroups
      .flatMap { case (g, attrs) => attrs.map(a => (g, a)) }
      .toDF("grp", "attr")
    documents(s, d)
      .select(col("doc_id"),
        explode(array_distinct(split(lower(col("text")), " "))).as("tok"))
      .join(broadcast(ga), col("tok") === col("attr"))
      .groupBy("doc_id")
      .agg(
        concat_ws(",", array_sort(collect_set(col("grp")))).as("groups"),
        count(lit(1)).as("n_attr_hits"))
      .orderBy("doc_id")
  }
  val refProductGroupsSql: String = {
    val values = productGroups
      .flatMap { case (g, attrs) => attrs.map(a => s"('$g', '$a')") }
      .mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS tok
       |  FROM documents),
       |ga(grp, attr) AS (VALUES $values)
       |SELECT doc_id,
       |  array_to_string(list_sort(list_distinct(list(grp))), ',') AS groups,
       |  count(*) AS n_attr_hits
       |FROM toks JOIN ga ON tok = attr
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** page_keyset — the scale-safe A13 pagination beside
    * [[pageOffsetLimit]]: a keyset cursor page. The client passes the
    * last-seen (c_acctbal, c_custkey); the next page is a tuple-
    * compare filter + top-20, which plans as a pushed filter under
    * TakeOrderedAndProject — no global window, no single-partition
    * sort, same cost for page 1 and page 1,000,000.
    */
  def pageKeyset(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .filter(col("c_acctbal") < 5000.0 ||
        (col("c_acctbal") === 5000.0 && col("c_custkey") > 123))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      .limit(20)
  val pageKeysetSql: String =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |WHERE c_acctbal < 5000.0 OR (c_acctbal = 5000.0 AND c_custkey > 123)
      |ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 20""".stripMargin

  /** ref_submission_status — the A16 submission workflow state machine
    * (SUBMITTED → VALIDATED → {APPROVED → PUBLISHED | CANCELED}) as a
    * relational fold. A deterministic per-submission transition history
    * is synthesized from orders (each order = one submission; its
    * status/priority decide how far the workflow ran), then:
    *  - current state = max_by(status, seq) — the "latest event wins"
    *    fold, a map-side-combinable aggregation, NOT a window sort;
    *  - transition legality is CHECKED (not assumed) with a lag over
    *    (submission, seq) — a keyed window, parallel at any scale —
    *    against the legal-edge set; illegal count rolls up per state.
    * Output: per final state, submission count, event count, illegal-
    * transition count. The oracle derives the same facts in closed
    * form from each order's columns.
    */
  def refSubmissionStatus(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val isCancel = col("o_orderstatus") === "O" && col("o_orderpriority") === "5-LOW"
    val ev = orders(s, d)
      .select(col("o_orderkey").as("sub_id"),
        explode(array(
          struct(lit(1).as("seq"), lit("SUBMITTED").as("st")),
          struct(lit(2).as("seq"), lit("VALIDATED").as("st")),
          struct(lit(3).as("seq"),
            when(isCancel, lit("CANCELED"))
              .when(col("o_orderstatus").isin("F", "P"), lit("APPROVED"))
              .otherwise(lit(null).cast("string")).as("st")),
          struct(lit(4).as("seq"),
            when(col("o_orderstatus") === "F", lit("PUBLISHED"))
              .otherwise(lit(null).cast("string")).as("st")))).as("e"))
      .select(col("sub_id"), col("e.seq").as("seq"), col("e.st").as("st"))
      .filter(col("st").isNotNull)
    val legal = Seq("SUBMITTED>VALIDATED", "VALIDATED>APPROVED",
      "VALIDATED>CANCELED", "APPROVED>PUBLISHED")
    val w = Window.partitionBy("sub_id").orderBy("seq")
    ev.withColumn("prev", lag(col("st"), 1).over(w))
      .withColumn("illegal",
        when(col("prev").isNotNull &&
          !concat(col("prev"), lit(">"), col("st")).isin(legal: _*), 1L).otherwise(0L))
      .groupBy("sub_id")
      .agg(
        max_by(col("st"), col("seq")).as("status"),
        count(lit(1)).as("n_ev"),
        sum(col("illegal")).as("n_illegal"))
      .groupBy("status")
      .agg(
        count(lit(1)).as("n_subs"),
        sum(col("n_ev")).as("n_events"),
        sum(col("n_illegal")).as("n_illegal"))
      .orderBy("status")
  }
  val refSubmissionStatusSql: String =
    """SELECT status, count(*) AS n_subs,
      |  CAST(sum(n_ev) AS BIGINT) AS n_events,
      |  CAST(0 AS BIGINT) AS n_illegal
      |FROM (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderstatus = 'F' THEN 'PUBLISHED'
      |         WHEN o_orderstatus = 'P' THEN 'APPROVED'
      |         WHEN o_orderpriority = '5-LOW' THEN 'CANCELED'
      |         ELSE 'VALIDATED' END AS status,
      |    CASE WHEN o_orderstatus = 'F' THEN 4
      |         WHEN o_orderstatus = 'P' THEN 3
      |         WHEN o_orderpriority = '5-LOW' THEN 3
      |         ELSE 2 END AS n_ev
      |  FROM orders) t
      |GROUP BY status ORDER BY status""".stripMargin

  /** ref_geojson_export — the A14 GeoJSON locations projection on
    * search results: events in a bbox published as GeoJSON Point
    * features. Coordinates are stringified through DECIMAL(7,2) so the
    * feature string is deterministic across engines (double shortest-
    * repr formatting is engine/JDK-specific; fixed-scale decimal
    * printing is not). The feature assembles with concat — a codegen'd
    * row-local expression riding the scan, no JSON library in the path.
    */
  def refGeojsonExport(s: SparkSession, d: String): DataFrame =
    geoEvents(s, d)
      .filter(GeoOps.inBbox(col("lon"), col("lat"), -60.0, -85.0, 60.0, 30.0))
      .select(col("event_id"),
        concat(
          lit("""{"type":"Feature","geometry":{"type":"Point","coordinates":["""),
          col("lon").cast("decimal(7,2)").cast("string"), lit(","),
          col("lat").cast("decimal(7,2)").cast("string"),
          lit("""]},"properties":{"id":"""), col("event_id"), lit("}}")).as("feature"))
      .orderBy("event_id")
  val refGeojsonExportSql: String =
    """SELECT event_id,
      |  '{"type":"Feature","geometry":{"type":"Point","coordinates":[' ||
      |  CAST(CAST(lon AS DECIMAL(7,2)) AS VARCHAR) || ',' ||
      |  CAST(CAST(lat AS DECIMAL(7,2)) AS VARCHAR) ||
      |  ']},"properties":{"id":' || event_id || '}}' AS feature
      |FROM (
      |  SELECT event_id, value % 360.0 - 180.0 AS lon,
      |         CAST(user_id % 180 AS DOUBLE) - 90.0 AS lat
      |  FROM events) g
      |WHERE lon BETWEEN -60.0 AND 60.0 AND lat BETWEEN -85.0 AND 30.0
      |ORDER BY event_id""".stripMargin

  /** ref_zip_export — the A17 archive sink, literally: matching
    * documents stream into one zip per partition (each task writes its
    * own archive — the distributed-download shape: N workers produce N
    * archive parts, no driver bottleneck), then the zips are read back
    * through the `binaryFile` source and their central directories
    * parsed per-partition. The graded output is the read-back entry
    * listing — proving the sink produced well-formed archives with
    * exactly the matching docs at their exact byte sizes. Entry→zip
    * assignment is hash(doc_id) partitioning and entries are written
    * in sorted order, so archives are deterministic modulo zip
    * timestamps (which the listing ignores).
    *
    * LOCAL-MODE ASSUMPTION (like the other fixture-staging queries):
    * tasks write into a driver-created temp dir and the read-back
    * scans the same path, which only works because driver and
    * executors share one filesystem here. The production shape routes
    * each task's archive through a shared, committed output location
    * (object store / DFS with a commit protocol) so failed or
    * speculative task attempts can't leave truncated or duplicate
    * archives behind; the per-task-archive *structure* is unchanged.
    */
  def refZipExport(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import java.io.{ByteArrayInputStream, File, FileOutputStream}
    import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}
    val outDir = Scratch.dir("graft_zip_")
    documents(s, d).filter(col("lang") === "en")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .repartition(4, col("doc_id"))
      .mapPartitions { it =>
        val rows = it.toArray.sortBy(_._1)
        if (rows.isEmpty) Iterator.empty
        else {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val f = new File(outDir, f"part-$pid%04d.zip")
          val zos = new ZipOutputStream(new FileOutputStream(f))
          rows.foreach { case (id, text) =>
            zos.putNextEntry(new ZipEntry(s"doc_$id.txt"))
            zos.write(text.getBytes("UTF-8"))
            zos.closeEntry()
          }
          zos.close()
          Iterator(f.getName)
        }
      }.collect() // sink commit: 4 part-file names, not data
    s.read.format("binaryFile").load(s"$outDir/*.zip")
      .select(col("content")).as[Array[Byte]]
      .flatMap { bytes =>
        val zis = new ZipInputStream(new ByteArrayInputStream(bytes))
        Iterator.continually(zis.getNextEntry)
          .takeWhile(_ != null)
          .map { e =>
            var n = 0L
            val buf = new Array[Byte](8192)
            var r = zis.read(buf)
            while (r >= 0) { n += r; r = zis.read(buf) }
            (e.getName, n)
          }.toList
      }
      .toDF("entry", "n_bytes")
      .withColumn("doc_id",
        regexp_extract(col("entry"), "doc_([0-9]+)\\.txt", 1).cast("long"))
      .select("doc_id", "entry", "n_bytes")
      .orderBy("doc_id")
  }
  val refZipExportSql: String =
    """SELECT doc_id, 'doc_' || doc_id || '.txt' AS entry,
      |  octet_length(encode(text)) AS n_bytes
      |FROM documents WHERE lang = 'en' ORDER BY doc_id""".stripMargin

  /** Build (once per sfDir) and enable the inverted text index. */
  private[graft] def enableTextIndex(s: SparkSession, d: String): Unit = {
    val idxPath = Scratch.once("text_index", d) {
      val p = Scratch.dir("graft_tidx_")
      graft.plans.TextIndex.build(documents(s, d), "doc_id", "text", p)
      p
    }
    graft.plans.TextIndex.enable(s, idxPath, "doc_id", "text")
  }

  /** ref_text_index_search — A3 at scale: the `graft_text_search`
    * predicate rewritten by [[graft.plans.TextIndexSearchRule]] into a
    * LeftSemi join against the (token, doc_id) inverted index, so the
    * filter never scans the text column. Semantics are plain
    * case-insensitive contains (the oracle is the LIKE formulation);
    * PlanSpec asserts the semi-join actually fires.
    */
  def refTextIndexSearch(s: SparkSession, d: String): DataFrame = {
    enableTextIndex(s, d)
    documents(s, d)
      .filter(expr(s"${graft.plans.TextIndex.name}(text, 'merge')") &&
              col("n_chars") > 100)
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")
  }
  val refTextIndexSearchSql: String =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE lower(text) LIKE '%merge%' AND n_chars > 100
      |ORDER BY doc_id""".stripMargin

  /** ref_text_phrase_search — multi-token phrase through the index
    * path: the rule semi-joins the per-token id sets ('merge' ∩ 'join'
    * candidates) and keeps the contains predicate as an exact verify
    * over candidates only — adjacency is checked on the pruned set,
    * never via a full text scan. PlanSpec asserts both semi-joins fire
    * and the result matches the pure scan formulation.
    */
  def refTextPhraseSearch(s: SparkSession, d: String): DataFrame = {
    enableTextIndex(s, d)
    documents(s, d)
      .filter(expr(s"${graft.plans.TextIndex.name}(text, 'merge join')"))
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")
  }
  val refTextPhraseSearchSql: String =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE lower(text) LIKE '%merge join%'
      |ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ref_seabass_ingest" -> (refSeabassIngest _),
    "ref_validation_report" -> (refValidationReport _),
    "ref_geo_filter" -> (refGeoFilter _),
    "ref_text_index_search" -> (refTextIndexSearch _),
    "ref_text_phrase_search" -> (refTextPhraseSearch _),
    "ref_product_groups" -> (refProductGroups _),
    "ref_submission_status" -> (refSubmissionStatus _),
    "ref_geojson_export" -> (refGeojsonExport _),
    "ref_zip_export" -> (refZipExport _),
    "store_merge_upsert" -> (storeMergeUpsert _),
    "page_offset_limit" -> (pageOffsetLimit _),
    "page_keyset" -> (pageKeyset _),
  )
  val oracle: Map[String, String] = Map(
    "ref_seabass_ingest" -> refSeabassIngestSql,
    "ref_validation_report" -> refValidationReportSql,
    "ref_geo_filter" -> refGeoFilterSql,
    "ref_text_index_search" -> refTextIndexSearchSql,
    "ref_text_phrase_search" -> refTextPhraseSearchSql,
    "ref_product_groups" -> refProductGroupsSql,
    "ref_submission_status" -> refSubmissionStatusSql,
    "ref_geojson_export" -> refGeojsonExportSql,
    "ref_zip_export" -> refZipExportSql,
    "store_merge_upsert" -> storeMergeUpsertSql,
    "page_offset_limit" -> pageOffsetLimitSql,
    "page_keyset" -> pageKeysetSql,
  )
}
