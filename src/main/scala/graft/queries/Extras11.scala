package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Eleventh wave of coverage operators: the TPC-H Q6/Q18 optimizer
  * shapes, recursive glob ingest, and event-time-timeout custom state
  * — each with a DuckDB oracle.
  */
object Extras11 {

  /** analytics_q6_shape — the TPC-H Q6 forecasting-revenue shape: a
    * single scan, three pushable predicates, one global sum of an
    * exact decimal product — NO join, NO group key. The fastest
    * possible query class at 100 TB: every predicate reaches the
    * parquet reader (row-group/page skipping does the real work), the
    * aggregate is one partial per partition plus a single-row merge.
    * The discount band compares exact decimals, not floats.
    */
  def analyticsQ6Shape(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1996-01-01").cast("timestamp_ntz") &&
        dec(col("l_discount")).between(lit("0.05").cast(F), lit("0.07").cast(F)) &&
        col("l_quantity") < 24)
      .agg(dsumx(dec(col("l_extendedprice")) * col("l_discount").cast(F))
        .as("revenue"),
        count(lit(1)).as("n_lines"))
  val analyticsQ6ShapeSql: String =
    """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))
      |         * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
      |  count(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      |  AND l_shipdate < TIMESTAMP '1996-01-01'
      |  AND CAST(l_discount AS DECIMAL(4,2))
      |      BETWEEN CAST(0.05 AS DECIMAL(4,2)) AND CAST(0.07 AS DECIMAL(4,2))
      |  AND l_quantity < 24""".stripMargin

  /** analytics_q18_shape — the TPC-H Q18 large-volume-customer shape:
    * a HAVING-filtered aggregate over the fact table feeding a
    * semi-join back into the dimension chain, then a global top-100.
    * The aggregate-then-semi-join order is the scale lesson: the
    * billion-row lineitem collapses to qualifying order keys FIRST
    * (partial-aggregable, tiny result), and only those keys touch
    * orders/customer. The final top-k is TakeOrderedAndProject —
    * no global sort materializes.
    */
  def analyticsQ18Shape(s: SparkSession, d: String): DataFrame = {
    val bigOrders = lineitem(s, d)
      .groupBy("l_orderkey")
      .agg(sum(dec(col("l_quantity"))).as("total_qty"))
      .filter(col("total_qty") > 200)
    orders(s, d).join(bigOrders, col("o_orderkey") === col("l_orderkey"))
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"), col("total_qty").cast("double").as("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
  }
  val analyticsQ18ShapeSql: String =
    """SELECT c_name, o_orderkey, o_orderdate, o_totalprice,
      |  CAST(total_qty AS DOUBLE) AS total_qty
      |FROM orders
      |JOIN (SELECT l_orderkey,
      |        sum(CAST(l_quantity AS DECIMAL(14,2))) AS total_qty
      |      FROM lineitem GROUP BY l_orderkey
      |      HAVING sum(CAST(l_quantity AS DECIMAL(14,2))) > 200) b
      |  ON o_orderkey = b.l_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey ASC
      |LIMIT 100""".stripMargin

  /** scan_glob_recursive — nested-directory ingest: data files spread
    * across an uneven directory tree (the "crawler dropped files
    * wherever" layout), read with `recursiveFileLookup` +
    * `pathGlobFilter` so only matching files anywhere in the tree are
    * scanned — no partition-discovery assumptions, stray files
    * ignored. The census proves both nested files were found and the
    * decoy (non-matching extension) was not. Listing is the scale
    * concern here — one distributed file index pass, then normal scans.
    */
  def scanGlobRecursive(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.once("scan_glob_recursive", d) {
      val root = Paths.get(Scratch.dir("graft_glob_"))
      val o = orders(s, d)
      o.filter(col("o_orderkey") % 2 === 0).coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("a").toString)
      o.filter(col("o_orderkey") % 2 =!= 0).coalesce(1)
        .write.mode("overwrite").parquet(root.resolve("a/b/c").toString)
      // decoy: a non-parquet file the glob must skip
      Files.write(root.resolve("a/readme.txt"), "not data".getBytes("UTF-8"))
      root.toString
    }
    s.read
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.parquet")
      .parquet(dir)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy("o_orderstatus")
  }
  val scanGlobRecursiveSql: String =
    s"""SELECT o_orderstatus, count(*) AS n,
       |  ${dsumSql("o_totalprice")} AS revenue
       |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** stream_event_timeout — sessionization via flatMapGroupsWithState
    * with an EVENT-TIME timeout (C15's NoTimeout sibling, B48's
    * custom-state twin): per user, arriving rows are folded into
    * 30-minute-gap sessions (closed sessions emitted immediately), and
    * the LAST open session is parked in state with
    * `setTimeoutTimestamp(last_ts + 30 min)` — when the watermark
    * passes it, Spark invokes the group with `hasTimedOut` and the
    * session flushes with NO further data: the state-eviction contract
    * that bounds memory on an infinite stream. The replay's far-future
    * sentinels advance the watermark so every parked session times out
    * deterministically; the oracle is the batch gaps-and-islands
    * formulation.
    */
  def streamEventTimeout(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val sch = Streaming.rawSchema(s, d)
    val dir = Streaming.stageDir(s, d, copies = 1, sentinels = true)
    val gapUs = 30L * 60 * 1000000
    val typed = Streaming.eventStream(s, dir, sch)
      .select(col("user_id"), col("value"),
        expr("unix_micros(ets)").as("tus"), col("ets"))
      .withWatermark("ets", "1 hour") // after select: the column must survive
      .as[(Long, Double, Long, java.sql.Timestamp)]
    // state: open session (start_us, last_us, n, cents) — µs end to end
    // so the 30-minute gap compare is exact against the µs oracle
    val sessions = typed
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long, Long), (Long, Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, rows, state: GroupState[(Long, Long, Long, Long)]) =>
          if (state.hasTimedOut) {
            val (st, _, n, cents) = state.get
            state.remove()
            Iterator((user, st, n, cents / 100.0))
          } else {
            // fold sorted arrivals into gap-bounded sessions; emit all
            // closed ones, park the trailing open session with a timeout
            val sorted = rows.map(t => (t._3, math.round(t._2 * 100))).toSeq.sortBy(_._1)
            val open = state.getOption
            var cur: Option[(Long, Long, Long, Long)] = open
            val out = Seq.newBuilder[(Long, Long, Long, Double)]
            sorted.foreach { case (t, c) =>
              cur match {
                case Some((st, last, n, cents)) if t - last <= gapUs =>
                  cur = Some((st, t, n + 1, cents + c))
                case Some((st, _, n, cents)) =>
                  out += ((user, st, n, cents / 100.0))
                  cur = Some((t, t, 1L, c))
                case None =>
                  cur = Some((t, t, 1L, c))
              }
            }
            cur.foreach { sess =>
              state.update(sess)
              // timeout API is ms-epoch; ceil so it fires at-or-after gap end
              state.setTimeoutTimestamp((sess._2 + gapUs) / 1000 + 1)
            }
            out.result().iterator
          }
      }
      .toDF("user_id", "sess_start_us", "n_events", "sum_value")
    Streaming.runToBatch(s, sessions, "append")
      .filter(col("user_id") >= 0) // sentinel groups are harness artifacts
      .select(col("user_id"),
        expr("timestamp_micros(sess_start_us)")
          .cast(org.apache.spark.sql.types.TimestampNTZType).as("sess_start"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "sess_start")
  }
  val streamEventTimeoutSql: String =
    s"""WITH marked AS (
       |  SELECT user_id, ts, value,
       |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |              > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
       |  FROM events),
       |islands AS (
       |  SELECT user_id, ts, value,
       |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, brk
       |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
       |  FROM marked)
       |SELECT user_id, min(ts) AS sess_start,
       |  count(*) AS n_events, ${dsumSql("value")} AS sum_value
       |FROM islands GROUP BY user_id, sess
       |ORDER BY user_id, sess_start""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "analytics_q6_shape" -> (analyticsQ6Shape _),
    "analytics_q18_shape" -> (analyticsQ18Shape _),
    "scan_glob_recursive" -> (scanGlobRecursive _),
    "stream_event_timeout" -> (streamEventTimeout _),
  )

  val oracle: Map[String, String] = Map(
    "analytics_q6_shape" -> analyticsQ6ShapeSql,
    "analytics_q18_shape" -> analyticsQ18ShapeSql,
    "scan_glob_recursive" -> scanGlobRecursiveSql,
    "stream_event_timeout" -> streamEventTimeoutSql,
  )
}
