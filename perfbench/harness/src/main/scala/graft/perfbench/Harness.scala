package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{GeoOps, QueryDsl, Validation}
import graft.plans.{GlobalRank, TextIndex}
import graft.sources.{DatasetStore, SbReader}

/** Runs one workload of the benchmark in a single JVM: session start,
  * an untimed warm-up pass, whole passes of ops until the time is up,
  * then the correctness checks. Writes every raw measurement to one
  * JSON file; perfbench/run.py turns it into metrics.
  *
  * Usage: Harness <batch|ingest> <inputDir> <outFile> <seconds>
  *        <traced 0|1> <sfDir> <cpus> <localDir>
  */
object Harness {

  final case class Ctx(spark: SparkSession, sf: String, in: File, rec: Recorder, local: File)

  def main(args: Array[String]): Unit = {
    val Array(workload, inDir, outFile, secs, traced, sf, cpus, localDir) = args
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", new File(localDir, "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(traced == "1")
    if (rec.traced) spark.sparkContext.addSparkListener(new ExecListener(rec))
    val ctx = Ctx(spark, sf, new File(inDir), rec, new File(localDir))
    val w: Workload = workload match {
      case "batch" => new Batch(ctx)
      case "ingest" => new Ingest(ctx)
    }
    val out = mutable.LinkedHashMap.empty[String, String]
    val sessionReady = System.nanoTime()
    try {
      w.warmup()
      out("session_epoch_ms") = Json.num(rec.nsToEpochMs(sessionReady))
      out("warmup_s") = Json.num((System.nanoTime() - sessionReady) / 1e9)
      out("warmup_cached_mb") = Json.num(cachedMb(spark))
      val passes = mutable.ArrayBuffer.empty[String]
      val t0 = System.nanoTime()
      val deadline = t0 + (secs.toDouble * 1e9).toLong
      var p = 0
      while ((p == 0 || System.nanoTime() < deadline) && w.hasPass(p)) {
        val ps = System.nanoTime()
        w.runPass(p)
        passes += Json.obj(Seq("pass" -> p.toString,
          "t0_ms" -> Json.num((ps - t0) / 1e6), "t1_ms" -> Json.num((System.nanoTime() - t0) / 1e6),
          "cached_mb" -> Json.num(cachedMb(spark))))
        p += 1
      }
      val windowNs = System.nanoTime() - t0
      out("first_op_epoch_ms") = Json.num(rec.nsToEpochMs(rec.ops.head.t0))
      out("window_s") = Json.num(windowNs / 1e9)
      out("passes") = Json.arr(passes)
      w.settle()
      out("heap_live_mb") = Json.num(heapLiveMb())
      val checkStart = System.nanoTime()
      out("checks") = w.check()
      out("check_s") = Json.num((System.nanoTime() - checkStart) / 1e9)
      if (rec.traced) out("probe") = Json.obj(w.probe().map { case (k, v) => k -> Json.num(v) })
      out("ops") = Json.arr(rec.ops.map { o =>
        Json.obj(Seq(
          "id" -> o.id.toString, "kind" -> Json.str(o.kind), "cls" -> Json.str(o.cls),
          "pass" -> o.pass.toString, "t0_ms" -> Json.num((o.t0 - t0) / 1e6),
          "t1_ms" -> Json.num((o.t1 - t0) / 1e6), "ok" -> o.ok.toString,
          "error" -> Json.str(o.error), "rows" -> o.rows.toString,
          "result" -> Json.obj(o.result.map { case (k, v) => k -> Json.str(v) }),
          "layer" -> Json.obj(o.layer.map { case (k, v) => k -> Json.num(v) })))
      })
      out("spans") = Json.arr(rec.spans.map(s => Json.arr(Seq(
        s.op.toString, s.id.toString, s.parent.toString, Json.str(s.name),
        Json.num((s.t0 - t0) / 1e6), Json.num((s.t1 - t0) / 1e6)))))
      out("jobs") = Json.arr(rec.jobs.map(j => Json.arr(Seq(
        j.op.toString, j.jobId.toString, Json.num((j.t0 - t0) / 1e6), Json.num((j.t1 - t0) / 1e6)))))
      out("counters") = Json.obj(rec.counters.toSeq.sortBy(_._1).map { case (op, c) =>
        op.toString -> Json.obj(Seq(
          "stages" -> c.stages, "tasks" -> c.tasks, "task_run_ms" -> c.taskRunMs,
          "task_cpu_ns" -> c.taskCpuNs, "gc_ms" -> c.gcMs, "shuffle_write" -> c.shuffleWrite,
          "shuffle_read" -> c.shuffleRead, "spill" -> c.spill, "peak_exec_mem" -> c.peakExecMem,
          "input_records" -> c.inputRecords, "output_bytes" -> c.outputBytes,
          "add_batch_ms" -> c.addBatchMs, "wal_commit_ms" -> c.walCommitMs,
          "query_planning_ms" -> c.queryPlanningMs, "state_commit_ms" -> c.stateCommitMs,
          "batches" -> c.batches).map { case (k, v) => k -> v.toString })
      })
    } finally {
      Files.write(Paths.get(outFile), Json.obj(out).getBytes(UTF_8))
      spark.stop()
    }
  }

  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, rem) => max - rem }.sum / 1048576.0

  /** Heap in use after a full GC; the least of three, a little apart,
    * since Spark's cleaner threads release state asynchronously.
    */
  def heapLiveMb(): Double = (1 to 3).map { _ =>
    Thread.sleep(300)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  def lines(f: File): Seq[Array[String]] =
    Files.readAllLines(f.toPath, UTF_8).asScala.toSeq.filter(_.nonEmpty).map(_.split("\t", -1))

  def render(r: Row): String = r.toSeq.map(String.valueOf).mkString("\u0001")
}

/** One workload: its warm-up, its passes and its post-window checks. */
abstract class Workload(ctx: Harness.Ctx) {
  import ctx._

  def warmup(): Unit
  def hasPass(p: Int): Boolean
  def runPass(p: Int): Unit
  /** Reduces the outputs kept for the checks before the heap is measured. */
  def settle(): Unit = ()
  /** Marks failed ops and returns a JSON object of check details. */
  def check(): String
  def probe(): Map[String, Double] = Map.empty

  /** Run one op of the timed window: job group, traced drain and
    * block-manager reading around the timed body.
    */
  protected def op(kind: String, cls: String, pass: Int)(body: Op => Unit): Op = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"perfbench-op-${rec.ops.size}", kind)
    val o = rec.op(kind, cls, pass)(body)
    if (rec.traced) {
      PerfbenchBus.drain(sc)
      o.layer("storage.cached_mb") = Harness.cachedMb(spark)
    }
    sc.clearJobGroup()
    o
  }

  /** Plan and collect a frame; the traced run splits the two into spans
    * and records the Catalyst phases and the executed plan's shape.
    */
  protected def execute(df: DataFrame, o: Op): Array[Row] = {
    if (rec.traced) rec.span("plan")(df.queryExecution.executedPlan)
    val rows = rec.span("action")(df.collect())
    o.rows = rows.length
    if (rec.traced) {
      val phases = df.queryExecution.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        o.layer(s"catalyst.${p}_ms") = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      }
      o.layer ++= PlanShape(df.queryExecution.executedPlan)
    }
    rows
  }
}

/** Registry operators materialized in full, in a seeded order per pass. */
final class Batch(ctx: Harness.Ctx) extends Workload(ctx) {
  import ctx._

  private val order: Map[Int, Seq[String]] = Harness.lines(new File(in, "batch.tsv"))
    .groupBy(_(0).toInt).map { case (p, ls) => p -> ls.map(_(1)) }
  private val expected: Map[String, String] = {
    val f = new File(in, "fingerprints.tsv")
    if (f.exists) Harness.lines(f).map(a => a(0) -> a(1)).toMap else Map.empty
  }
  private val registry = graft.SparkEntry.queries
  private val results = mutable.HashMap.empty[Int, Array[Row]]

  private def operator(name: String, o: Op): Array[Row] = {
    val df = rec.span("queries.build")(registry(name)(spark, sf))
    execute(df, o)
  }

  def warmup(): Unit = order(0).foreach(n => operator(n, new Op(-1, "", "", -1)))
  def hasPass(p: Int): Boolean = order.contains(p + 1)
  def runPass(p: Int): Unit = order(p + 1).foreach { n =>
    var rows: Array[Row] = Array.empty
    val o = op(s"batch.$n", "read", p)(o => rows = operator(n, o))
    results(o.id) = rows
  }

  private def fingerprint(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(Harness.render).sorted.foreach { s => md.update(s.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }

  private val fingerprints = mutable.HashMap.empty[Int, String]

  override def settle(): Unit = {
    results.foreach { case (id, rows) => fingerprints(id) = fingerprint(rows) }
    results.clear()
  }

  /** Each result's fingerprint against the one recorded at the seed commit. */
  def check(): String = {
    val seen = mutable.LinkedHashMap.empty[String, String]
    var bad = 0
    rec.ops.foreach { o =>
      fingerprints.get(o.id).foreach { fp =>
        val name = o.kind.stripPrefix("batch.")
        seen(name) = fp
        if (o.ok && !expected.get(name).contains(fp)) {
          o.ok = false; o.error = s"fingerprint mismatch for $name"; bad += 1
        }
      }
    }
    Json.obj(Seq("mismatches" -> bad.toString,
      "fingerprints" -> Json.obj(seen.map { case (k, v) => k -> Json.str(v) })))
  }

  override def probe(): Map[String, Double] = Kernels.measure(spark, sf, copies = 5, reps = 2)
}

/** Write path: `.sb` submissions through SbReader, Validation and the
  * DatasetStore, with reads of the store alongside: aggregates, time
  * travel, and the reference's search (a DSL query plus a polygon,
  * paged through GlobalRank with its total count).
  */
final class Ingest(ctx: Harness.Ctx) extends Workload(ctx) {
  import ctx._

  private val script: Map[Int, Seq[Array[String]]] =
    Harness.lines(new File(in, "ingest.tsv")).groupBy(_(0).toInt)
  private val storeCols = Seq("lat", "lon", "depth", "chl", "temp", "sal")
  private val rules = Seq(
    Validation.Required("lat"), Validation.Required("lon"),
    Validation.NumericRange("depth", 0, 6000), Validation.NumericRange("chl", 0, 100),
    Validation.NumericRange("temp", -2, 40), Validation.NumericRange("sal", 0, 45))
  private val PageSize = 20
  private var storeDir: File = _
  private var store: DatasetStore = _

  private def fresh(name: String): DatasetStore = {
    storeDir = new File(local, name)
    deleteTree(storeDir)
    new DatasetStore(spark, storeDir.toString, "rec_key")
  }
  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def submission(file: String, ds: String, fields: Seq[String]): DataFrame = {
    val w = SbReader.readWide(spark, new File(in, s"sb/$file").toString, fields)
    w.select(lit(ds).as("dataset") +:
      concat(lit(ds + "/"), col("record_no").cast("string")).as("rec_key") +:
      col("record_no") +:
      storeCols.map(c => if (fields.contains(c)) col(c) else lit(null).cast("double").as(c)): _*)
  }

  private def validate(df: DataFrame, o: Op): Unit = {
    val report = rec.span("functions.validate")(Validation.validate(df, rules).collect())
    o.result("violations") = report.map(r => s"${r.getString(0)}=${r.getLong(2)}").mkString(";")
  }

  private def countRows(df: DataFrame, o: Op): Unit =
    o.result("count") = execute(df.agg(count(lit(1))), o).head.getLong(0).toString

  private def step(a: Array[String], o: Op): Unit = a(1) match {
    case "submit" =>
      val df = rec.span("construct.submission")(submission(a(2), a(3), a(4).split(",").toSeq))
      validate(df, o)
      rec.span("sources.store.append")(store.appendAtomic(df))
    case "resubmit" =>
      val df = rec.span("construct.submission")(submission(a(2), a(3), a(4).split(",").toSeq))
      validate(df, o)
      rec.span("sources.store.upsert")(store.upsert(df))
    case "withdraw" =>
      rec.span("sources.store.delete")(store.delete(col("dataset") === lit(a(3))))
    case "maintain" =>
      rec.span("sources.store.compact")(store.compact())
      rec.span("sources.store.expire")(store.expireSnapshots(a(2).toInt))
    case "read" =>
      o.layer("sources.store.segments") = store.segmentCount.toDouble
      val df = rec.span("sources.store.read")(store.read())
      o.result("count") = execute(df.agg(count(lit(1)), countDistinct("dataset")), o)
        .head.toSeq.mkString(",")
    case "read_at" =>
      val vs = store.versions()
      val v = vs(math.min((a(2).toDouble * vs.size).toInt, vs.size - 1))
      o.layer("sources.store.segments") = Files.readAllLines(
        new File(storeDir, s"MANIFEST.v$v").toPath).asScala.count(_.trim.nonEmpty).toDouble
      o.result("version") = v.toString
      countRows(rec.span("sources.store.read_at")(store.readAt(v)), o)
    case "search" =>
      val df = rec.span("sources.store.read")(store.read())
      // QueryDsl.predicate's body, with parse and compile as spans of their own
      val pred = rec.span("construct.dsl") {
        TextIndex.registerFunction(spark)
        val q = rec.span("dsl.parse")(QueryDsl.parse(a(2)))
        rec.span("dsl.compile")(QueryDsl.compile(q, df.schema, Nil))
      }
      val poly = a(3).split(";").toSeq.map { xy =>
        val Array(x, y) = xy.split(","); (x.toDouble, y.toDouble)
      }
      val filtered = rec.span("construct.filter")(
        df.filter(pred).filter(GeoOps.inPolygon(col("lon"), col("lat"), poly)))
      val ranked = rec.span("construct.globalrank")(GlobalRank.withGlobalRowNumberAndTotal(
        filtered.select("rec_key"), "rn", "total_count", Seq(col("rec_key").asc)))
      val off = a(4).toInt * PageSize
      val page = execute(ranked.filter(col("rn") > off && col("rn") <= off + PageSize)
        .orderBy("rn"), o)
      o.result("page") = page.map(_.getString(0)).mkString(",")
      o.result("total") = page.headOption.map(_.getLong(2).toString).getOrElse("")
  }

  private def isWrite(a: Array[String]): Boolean =
    Set("submit", "resubmit", "withdraw", "maintain")(a(1))

  def warmup(): Unit = {
    store = fresh("warmup_store")
    script(-1).foreach(a => step(a, new Op(-1, "", "", -1)))
    store = fresh("store")
  }
  def hasPass(p: Int): Boolean = script.contains(p)
  def runPass(p: Int): Unit = script(p).foreach { a =>
    op(s"ingest.${a(1)}", if (isWrite(a)) "write" else "read", p)(o => step(a, o))
    if (rec.traced && Set("submit", "resubmit")(a(1))) {
      rec.current = -1
      val t0 = System.nanoTime()
      val n = SbReader.readWide(spark, new File(in, s"sb/${a(2)}").toString, a(4).split(",").toSeq)
        .collect().length
      val o = rec.ops.last
      o.layer("sources.sb_read_ms") = (System.nanoTime() - t0) / 1e6
      o.layer("sources.sb_records") = n.toDouble
    }
  }

  private def du(f: File): Long =
    if (f.isFile) f.length else Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)

  /** The final state and every retained version, for run.py to compare
    * with the generator's own replay of the executed ops.
    */
  def check(): String = {
    val datasets = store.read().groupBy("dataset").count().collect()
      .map(r => r.getString(0) -> r.getLong(1).toString).sortBy(_._1)
    val versions = store.versions().map(v => v.toString -> store.readAt(v).count().toString)
    Json.obj(Seq(
      "store_bytes" -> du(storeDir).toString,
      "datasets" -> Json.obj(datasets.map { case (k, v) => k -> v }),
      "versions" -> Json.obj(versions.map { case (k, v) => k -> v })))
  }
}
